package graft.queries

import org.apache.spark.sql.execution.{RDDScanExec, SortExec, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec, ShuffledHashJoinExec}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Partial}
import org.apache.spark.sql.catalyst.plans.{LeftOuter, LeftSemi}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.operators.PlanInspect._

/** Physical-plan contracts: the optimizer behaviors the 100 TB design
  * depends on, pinned as assertions so a refactor that silently loses a
  * pushdown or broadcast fails here, not in production.
  *
  * All assertions probe the TYPED operator tree via
  * [[graft.operators.PlanInspect]] — never the plan's printed string,
  * whose formatting broke two of these pins in round 3 (an `sh#NNN`
  * column satisfying a substring probe for `h#`, and AQE printing both
  * pre-reuse exchanges in the un-executed plan). */
class PlanSpec extends AnyFunSuite with SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private def df(name: String) = Catalog.byName(name).fn(spark, sf)

  test("q02: filters push into the parquet scan, columns prune") {
    val scans = fileScans(df("q02_filter_project"))
    assert(scans.nonEmpty)
    val pushed = scans.map(_.metadata("PushedFilters")).mkString
    assert(pushed.contains("GreaterThan(l_shipdate") || pushed.contains("IsNotNull(l_shipdate"))
    // projection+filter columns only — the 16-column lineitem scan reads 5
    val read = scans.flatMap(_.requiredSchema.fieldNames).toSet
    assert(read.contains("l_orderkey") && read.contains("l_discount"))
    assert(!read.contains("l_comment") && !read.contains("l_partkey"))
  }

  test("q03: dimension join broadcasts") {
    assert(nodes(df("q03_join_left_broadcast"))
      .exists(_.isInstanceOf[BroadcastHashJoinExec]))
  }

  test("q05: star join broadcasts every dimension") {
    assert(nodes(df("q05_join_star"))
      .count(_.isInstanceOf[BroadcastHashJoinExec]) >= 3)
  }

  test("q09: top-k plans as TakeOrderedAndProject, not global sort") {
    val ns = nodes(df("q09_topk"))
    assert(ns.exists(_.isInstanceOf[TakeOrderedAndProjectExec]))
    assert(!ns.exists(_.isInstanceOf[SortExec]))
  }

  test("q01: aggregation is partial+final (map-side combine)") {
    assert(nodes(df("q01_agg_pricing"))
      .count(_.isInstanceOf[HashAggregateExec]) >= 2)
  }

  test("q49: the salted rollup shuffles FIRST on (key, salt), THEN on key alone") {
    val keys = hashShuffleKeys(df("q49_salted_agg"))
    // salt phase: the hot key's rows spread over salts reducers
    assert(keys.exists(k => k.contains("__salt") && k.contains("l_returnflag")),
      s"no (key, salt) exchange found: $keys")
    // merge phase: groups x salts partials, never the corpus, meet per key
    assert(keys.exists(_ == Set("l_returnflag")),
      s"no merge-phase key-only exchange: $keys")
  }

  test("saltedJoin in the shuffle regime keys the join exchange on (key, salt)") {
    import spark.implicits._
    import graft.operators.Salting
    // force the shuffle regime the operator exists for (at gate scale AQE
    // rightly broadcasts the small side, and salting a broadcast join is
    // a no-op — the salt must show up exactly when a shuffle happens)
    val big = graft.Tables.lineitem(spark, sf)
      .select($"l_partkey".as("pk"), $"l_quantity").hint("shuffle_hash")
    val small = graft.Tables.part(spark, sf)
      .select($"p_partkey".as("pk"), $"p_brand").hint("shuffle_hash")
    val keys = hashShuffleKeys(Salting.saltedJoin(big, small, "pk", salts = 8))
    assert(keys.count(_ == Set("pk", "__salt")) >= 2,
      s"join sides must both exchange on (pk, __salt): $keys")
  }

  test("q42: grouping sets expand in ONE pass — single scan, single Expand") {
    val d = df("q42_grouping_sets")
    assert(fileScans(d).size == 1)
    assert(nodes(d).count(_.isInstanceOf[org.apache.spark.sql.execution.ExpandExec]) == 1)
  }

  test("q41: exact percentile is the bounded-memory sort pick — no O(group) agg buffer") {
    val ns = nodes(df("q41_percentile"))
    // the round-≤8 `percentile` aggregate planned as ObjectHashAggregate
    // buffering O(group) values; the two-pass plans as external-sort
    // windows + a broadcast of the 3-row count table
    assert(!ns.exists(_.isInstanceOf[ObjectHashAggregateExec]))
    assert(ns.count(_.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]) == 2)
    assert(ns.exists(_.isInstanceOf[BroadcastHashJoinExec]))
  }

  test("q25: IN-subquery plans as a broadcast semi join") {
    assert(nodes(df("q25_semi_join_subquery")).exists {
      case j: BroadcastHashJoinExec => j.joinType == LeftSemi
      case _ => false
    })
  }

  // ---- dedup shuffle-key contracts: the 100 TB claims in TextOps, pinned.
  // A shuffle that keys on (or carries) raw document text would ship the
  // corpus around the cluster; these assert every exchange keys on a
  // digest / band / doc id — and, via exchangePayloads, that the document
  // body never even rides along as shuffle/broadcast PAYLOAD (stronger
  // than the old printed-line checks, which only saw the partition keys).

  private def noTextPayload(payloads: Seq[Set[String]]): Unit =
    payloads.foreach(p => assert(!p.contains("text"), s"exchange ships the body: $p"))

  /** Joins keyed (partly) on the 64-bit shingle hash column `h`. */
  private def shingleHashJoinKeys(name: String): Seq[Set[String]] =
    equiJoinKeys(df(name)).filter(_.contains("h"))

  test("dd01: shuffles key on the 16-byte digest, never the document body") {
    val d = df("dd01_dedup_exact")
    val keys = hashShuffleKeys(d)
    assert(keys.nonEmpty && keys.forall(_.contains("content_hash")))
    noTextPayload(exchangePayloads(d))
  }

  test("dd03: map-side partial min; shuffles key on doc_id, not shingle text") {
    val d = df("dd03_minhash_lsh")
    // 8×8 B partial mins per doc cross the wire, not shingles
    assert(nodes(d).exists {
      case h: HashAggregateExec =>
        h.aggregateExpressions.exists((a: AggregateExpression) => a.mode == Partial)
      case _ => false
    })
    val keys = hashShuffleKeys(d)
    assert(keys.nonEmpty && keys.forall(_.contains("doc_id")))
    exchangePayloads(d).foreach { p =>
      assert(!p.contains("text") && !p.contains("sh"), s"exchange ships shingles: $p")
    }
  }

  test("q39: band join stays an equi join on (key, bucket) — never theta") {
    val d = df("q39_band_join")
    // the bucket trick's whole point: a |v1-v2|<=band predicate must not
    // plan as a per-key cross join
    val ns = nodes(d)
    assert(!ns.exists(_.isInstanceOf[CartesianProductExec]))
    assert(!ns.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]))
    val joins = equiJoinKeys(d)
    assert(joins.nonEmpty && joins.forall(k => k.contains("key") && k.contains("probe")))
  }

  test("vs05: centroid sums partial-aggregate before the exchange") {
    val d = df("vs05_centroid_sums")
    assert(nodes(d).exists {
      case h: HashAggregateExec =>
        h.aggregateExpressions.exists((a: AggregateExpression) => a.mode == Partial)
      case _ => false
    })
    val keys = hashShuffleKeys(d)
    assert(keys.nonEmpty && keys.forall(k => k.contains("label") && k.contains("dim")))
  }

  test("dd05: candidates-first verify — no all-pairs shingle join survives") {
    val d = df("dd05_lsh_dedup")
    // old shape: unfiltered h==h self-join aggregate, then a LeftSemi
    // filter. Ban EVERY join exec (BaseJoinExec covers broadcast/shuffled/
    // sort-merge/nested-loop): at corpus scale the planner would pick a
    // sort-merge semi, which a hash-join-only probe would miss.
    assert(!nodes(d).exists {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j.joinType == LeftSemi
      case _ => false
    })
    // every shingle-hash join is also keyed by a candidate doc id, so the
    // pair space is the LSH candidate set, never Σ|shingle-bucket|²
    val sj = shingleHashJoinKeys("dd05_lsh_dedup")
    assert(sj.nonEmpty && sj.forall(_.contains("d2")))
    noTextPayload(exchangePayloads(d))
  }

  test("dd05: small band table → planner broadcasts the band self-join") {
    // lshCandidates gates its join shape on Catalyst's size estimate using
    // the planner's own broadcast criterion; below the threshold (every
    // test/bench SF — measured fastest at sf0.1: 1.27–1.49 s vs 1.38–1.59 s
    // shuffled) the join must plan as a broadcast, not a two-sided shuffle
    assert(nodes(df("dd05_lsh_dedup")).exists {
      case j: BroadcastHashJoinExec =>
        val k = (j.leftKeys ++ j.rightKeys).flatMap(_.references.map(_.name)).toSet
        k.contains("band") && k.contains("bkey")
      case _ => false
    })
  }

  test("dd05: large band table → shuffle_hash reusing ONE signature exchange") {
    // the cluster-scale branch: estimate above autoBroadcastJoinThreshold
    // (forced here with -1, which also stops the planner broadcasting).
    // shuffle_hash on both identical band branches beats sort-merge (no
    // sort), and they need the SAME (band, bkey) exchange — reuse is a
    // RUNTIME decision under AQE (the un-executed plan holds both
    // exchanges separately), so execute first: PlanInspect reads the
    // adaptive plan's CURRENT tree, which is the final one after collect.
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val d = df("dd05_lsh_dedup")
      d.collect()
      val ns = nodes(d)
      assert(ns.exists(_.isInstanceOf[ShuffledHashJoinExec]))
      assert(ns.exists(_.isInstanceOf[ReusedExchangeExec]))
    } finally spark.conf.set(key, saved)
  }

  test("pp01: composed chain — broadcast bench probe, no all-pairs join") {
    // since r19 the gate pins its q3 survivor frame (localCheckpoint), so
    // the gate's FINAL plan starts past the whole near-dup chain — the
    // chain-shape pins therefore probe the UN-materialized composition
    // (materialize = identity exposes every stage in one lazy plan),
    // while the gate plan itself gets the (stronger) post-pin payload
    // check below
    val chain = TextOps.exportPipeline(
      graft.Tables.documents(spark, sf), identity)
    val ns = nodes(chain)
    assert(!ns.exists(_.isInstanceOf[CartesianProductExec]))
    assert(!ns.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]))
    // candidates-first near-dup verify inside the chain: every
    // shingle-hash join is keyed by a candidate doc id. (The decontamination
    // LeftSemi keys on the shingle STRING column `sh`, a distinct name in
    // the typed tree — no regex boundary games needed to exclude it.)
    val sj = equiJoinKeys(chain).filter(_.contains("h"))
    assert(sj.nonEmpty && sj.forall(_.contains("d2")))
    // decontamination: the benchmark shingle set broadcasts into a semi join
    assert(ns.exists {
      case j: BroadcastHashJoinExec => j.joinType == LeftSemi
      case _ => false
    })
    // the document body crosses the wire ONLY inside the exact-dedup
    // window exchange (keyed on the precomputed md5 of the body). In the
    // identity plan that subtree appears once per consumer pre-execution
    // (AQE reuse collapses them at runtime), so the pin is the partition
    // DISCIPLINE of every text-carrying exchange, not a count.
    val textEx = nodes(chain).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.child.output.exists(_.name == "text") => e
    }
    assert(textEx.nonEmpty, "the exact-dedup window exchange vanished")
    textEx.foreach(e => e.outputPartitioning match {
      case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
        // the window pre-projects md5(text) into a _w* attribute, so the
        // digest expression lives in the exchange CHILD's projection and
        // the partitioning references that derived attribute — never the
        // body column itself
        val keyNames = h.expressions.flatMap(_.references.map(_.name)).toSet
        assert(!keyNames.contains("text"),
          s"text-carrying exchange keyed on the raw body: $h")
        assert((h.expressions ++ e.child.expressions).exists(_.exists(
          _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Md5])),
          s"text-carrying exchange not fed by the md5 digest: $h")
      case other => fail(s"text-carrying exchange not hash-partitioned: $other")
    })
    // and the GATE plan (q3 pinned): nothing past the checkpoint ships
    // the body at all
    exchangePayloads(df("pp01_export_pipeline")).foreach(p =>
      assert(!p.contains("text"), s"gate exchange ships the document body: $p"))
  }

  test("dd07: bench set broadcasts; the corpus shingle pass runs once") {
    val d = df("dd07_contamination")
    // the final plan reads the ONE materialized shingle pass (checkpoint
    // blocks) for both the bench set and the corpus probe — `documents`
    // itself was scanned exactly once, inside the materialize job, so no
    // parquet scan may survive here
    val ns = nodes(d)
    assert(fileScans(d).isEmpty)
    assert(ns.exists(_.isInstanceOf[RDDScanExec]))
    assert(ns.exists {
      case j: BroadcastHashJoinExec => j.joinType == LeftOuter
      case _ => false
    })
    assert(!ns.exists(_.isInstanceOf[CartesianProductExec]))
    assert(!ns.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]))
  }

  test("dd06: final plan exchanges key on doc ids / components only") {
    val d = df("dd06_dup_clusters")
    val keys = hashShuffleKeys(d)
    assert(keys.nonEmpty &&
      keys.forall(k => k.contains("doc_id") || k.contains("component")))
    exchangePayloads(d).foreach { p =>
      assert(!p.contains("text") && !p.contains("sh"), s"exchange ships the corpus: $p")
    }
  }

  test("sa11: the split fold adds NO exchange beyond dd06's — label-keyed, text never ships") {
    // the leak-safe split is dd06's clustering + one row-local fold on
    // the label column: the final plan's exchanges must be exactly the
    // clustering's contract (doc ids / components), no window, no
    // cartesian, and nothing corpus-sized on any exchange
    val d = df("sa11_leakage_safe_split")
    val keys = hashShuffleKeys(d)
    assert(keys.nonEmpty &&
      keys.forall(k => k.contains("doc_id") || k.contains("component")))
    exchangePayloads(d).foreach { p =>
      assert(!p.contains("text") && !p.contains("sh"), s"exchange ships the corpus: $p")
    }
    val ns = nodes(d)
    assert(!ns.exists(_.isInstanceOf[CartesianProductExec]))
    assert(!ns.exists(_.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]))
  }

  test("dd06: every clustering round exchanges on item/bucket ids only") {
    // the iteration's plans never reach the final query (each round is a
    // checkpoint job) — capture them through the materialize hook instead
    val captured = scala.collection.mutable.Buffer[(Seq[Set[String]], Seq[Set[String]])]()
    val hook: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame = { frame =>
      captured += ((hashShuffleKeys(frame), exchangePayloads(frame)))
      frame.localCheckpoint(true)
    }
    TextOps.dupClusters(graft.Tables.documents(spark, sf), hook).collect()
    // membership table + at least round 0 — at sf0.001 round 0's three
    // waves already reach the fixpoint, so exactly 2 captures is correct
    assert(captured.size >= 2)
    val allowed = Set("doc_id", "__i", "__b", "component")
    captured.foreach { case (keys, payloads) =>
      keys.foreach(k => assert(k.subsetOf(allowed),
        s"round exchange keyed off the id/bucket contract: $k"))
      payloads.foreach(p => assert(!p.contains("text"),
        s"round exchange ships the body: $p"))
    }
  }

  test("dd08: bloom prune feeds an exact broadcast probe — dd07's contracts hold") {
    val d = df("dd08_contamination_bloom")
    val ns = nodes(d)
    // one materialized shingle pass feeds bench + pruned corpus probe
    assert(fileScans(d).isEmpty)
    assert(ns.exists(_.isInstanceOf[RDDScanExec]))
    // the exact membership join that removes the bloom's false positives
    assert(ns.exists {
      case j: BroadcastHashJoinExec => j.joinType == LeftOuter
      case _ => false
    })
    assert(!ns.exists(_.isInstanceOf[CartesianProductExec]))
    assert(!ns.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]))
  }

  test("pp02: increment bands broadcast into the index probe; verify is candidate-keyed") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, sf)
    val isNew = QueryUtils.hex8(concat(lit("inc:"), col("doc_id").cast("string"))) % 5 === 0
    val old = docs.filter(!isNew)
    // the candidate stage is materialized (two consumers: id-prune + pair
    // join) — its plan never reaches the final query, so capture it
    // through the materialize hook like dd06's clustering rounds
    val captured = scala.collection.mutable.Buffer[org.apache.spark.sql.DataFrame]()
    val hook: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame = { f =>
      captured += f; f.localCheckpoint(true)
    }
    val pairs = TextOps.incrementalDupPairs(TextOps.sigBandsLocal(old),
      docs.filter(isNew), TextOps.shingleStore(old), hook)
    pairs.collect()
    // the standing index is PROBED by the (small, broadcast) batch bands —
    // never shuffled to meet them
    assert(captured.size == 1)
    assert(nodes(captured.head).exists {
      case j: BroadcastHashJoinExec =>
        val k = (j.leftKeys ++ j.rightKeys).flatMap(_.references.map(_.name)).toSet
        k.contains("band") && k.contains("bkey")
      case _ => false
    })
    // exact verification touches only candidate doc ids, like dd05
    val sj = equiJoinKeys(pairs).filter(_.contains("h"))
    assert(sj.nonEmpty && sj.forall(_.contains("d2")))
    noTextPayload(exchangePayloads(pairs))
    noTextPayload(exchangePayloads(captured.head))
  }

  test("dd09: span shuffles key on the 8-byte hash / doc id; body never ships") {
    val d = df("dd09_span_dedup")
    val keys = hashShuffleKeys(d)
    assert(keys.nonEmpty && keys.forall(k =>
      k.subsetOf(Set("h", "doc_id"))), s"span exchange keyed on $keys")
    noTextPayload(exchangePayloads(d))
  }

  test("pp04: advance exchanges carry ids/buckets only; bucket index probed via broadcast") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, sf)
    val isNew = QueryUtils.hex8(concat(lit("inc:"), col("doc_id").cast("string"))) % 5 === 0
    val old = docs.filter(!isNew)
    val members = sigBandsLocalBuckets(old)
    val comp = graft.operators.ConnectedComponents.bipartite(
      members, idCol = "doc_id", bucketCol = "bucket")
    val oldLabels = old.select(col("doc_id")).join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("component"), col("doc_id")).as("component"))
    val bucketComp = members.join(oldLabels, "doc_id")
      .select(col("bucket"), col("component")).distinct().localCheckpoint(true)
    // capture every advance-side materialized stage (increment members +
    // each CC round) through the hook; none may shuffle or ship anything
    // beyond ids/buckets/labels — the corpus body never rides the advance
    val captured = scala.collection.mutable.Buffer[org.apache.spark.sql.DataFrame]()
    val hook: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame = { f =>
      captured += f; f.localCheckpoint(true)
    }
    val adv = TextOps.clusterAdvance(bucketComp,
      docs.filter(isNew).select(col("doc_id")),
      sigBandsLocalBuckets(docs.filter(isNew)), hook)
    adv.newLabels.collect()
    assert(captured.size >= 2) // members + ≥1 CC round
    val allowed = Set("doc_id", "bucket", "component", "__i", "__b", "__isold")
    captured.foreach { f =>
      hashShuffleKeys(f).foreach(k => assert(k.subsetOf(allowed),
        s"advance exchange keyed outside the id/bucket contract: $k"))
      exchangePayloads(f).foreach(p => assert(!p.contains("text"),
        s"advance exchange ships the body: $p"))
    }
    // the standing bucket index enters through a broadcast-probed join in
    // the touched-components stage (captured members feed it) — the final
    // advance plan must not shuffle the index to meet the batch
    noTextPayload(exchangePayloads(adv.newLabels))
  }

  /** sigBandsLocal → (doc_id, bucket) — pp04's membership shape. */
  private def sigBandsLocalBuckets(docs: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.functions._
    TextOps.sigBandsLocal(docs)
      .select(col("doc_id"), concat_ws(":", col("band"), col("bkey")).as("bucket"))
  }

  test("vs06: final top-k is a bounded aggregate, not a window; one per-query window remains") {
    val d = df("vs06_ivf_search")
    d.collect()
    val ns = nodes(d)
    // the corpus→centroid assignment is row-local (a literal-centroid
    // argmax in the scan's project — assignCells contributes no
    // exchange), so the corpus is never shuffled per-vector; the top-k
    // aggregator below still runs a map-side partial pass
    assert(!hashShuffleKeys(d).contains(Set("vec_id")),
      "assignment reintroduced its per-vector shuffle")
    assert(ns.exists {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
        a.aggregateExpressions.exists((e: AggregateExpression) => e.mode == Partial)
      case _ => false
    })
    // the final per-query top-3 over the probed candidates is the
    // GroupedTopK bounded-buffer aggregator (ObjectHashAggregate), so the
    // ONLY window left is probe selection over Q×C (8-row-per-query)
    // centroid distances — never a rank over candidate rows
    assert(ns.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec]))
    val windows = ns.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(windows.size == 1, s"expected only the probe-selection window, got ${windows.size}")
    windows.foreach { w =>
      val parts = w.partitionSpec.flatMap(_.references.map(_.name)).toSet
      assert(parts == Set("query_id"), s"window partitioned over $parts")
    }
  }

  test("vs20: the metadata filter reaches the postings-side parquet scan; vs06's search contract holds") {
    val d = df("vs20_filtered_ann")
    d.collect()
    // the label predicate is pushed into a parquet scan (at 100 TB:
    // row-group skipping on the postings files) — non-matching vectors
    // are pruned before assignment, never quantized or shuffled
    val scans = fileScans(d)
    assert(scans.exists(_.metadata("PushedFilters").contains("In(label")),
      s"label filter not pushed: ${scans.map(_.metadata("PushedFilters"))}")
    // and the search keeps vs06's shape: bounded top-k aggregator, the
    // only window is per-query probe selection
    val ns = nodes(d)
    assert(ns.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec]))
    val windows = ns.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(windows.size == 1, s"expected only the probe-selection window, got ${windows.size}")
  }

  test("ta18: query terms broadcast and prune; per-query top-k is a bounded aggregate (no window); text never rides an exchange") {
    val d = df("ta18_bm25_topk")
    d.collect()
    val ns = nodes(d)
    // the driver-bounded query-token set, the df dim, the N/L scalars,
    // and the query fan-out all broadcast — the only shuffled frames are
    // the tf/dl rollups and the (query, doc) score rollup
    assert(ns.count(_.isInstanceOf[BroadcastHashJoinExec]) >= 3,
      "query-side dims did not broadcast")
    assert(!ns.exists(_.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]),
      "per-query top-k fell back to a window")
    assert(ns.exists(_.isInstanceOf[ObjectHashAggregateExec]),
      "bounded-buffer top-k aggregate missing")
    exchangePayloads(d).foreach(p =>
      assert(!p.contains("text"), s"exchange ships the document body: $p"))
  }

  test("ta17: reference slice prunes at the scan; no per-source data-sized window (distributed NTILE)") {
    val d = df("ta17_ref_perplexity")
    d.collect()
    // the frozen-reference predicate reaches the documents scan — the
    // reference LM derivation reads the reference slice only. Since r19
    // the GATE's lazy plan starts at the rank machinery's checkpoint
    // (refBuckets derives sizes from it too — nothing below re-reads the
    // corpus), so the pushdown pin probes the SCORING composition, which
    // is where the scan lives.
    val docs = graft.Tables.documents(spark, sf)
    val scans = fileScans(TextOps.refSurprise(docs, TextOps.refLmCounts(docs)))
    assert(scans.exists { s =>
      val p = s.metadata("PushedFilters")
      p.contains("EqualTo(lang,en)") && p.contains("LessThan(doc_id,100)")
    }, s"reference predicates not pushed: ${scans.map(_.metadata("PushedFilters"))}")
    // and the gate plan itself must be corpus-free past the checkpoint:
    // a reappearing documents scan means the sizes/buckets legs regressed
    // to re-deriving the scored frame
    assert(fileScans(d).isEmpty,
      "ta17's final plan re-reads the corpus below the rank checkpoint")
    // bucketing ranks via the two-level scan: every window either runs
    // partition-local (__pid in its keys) or sees only (partition,
    // source) SUMMARY rows — a NTILE/row_number window partitioned by
    // source over the scored documents themselves would be the
    // single-task-per-source straggler this plan exists to avoid
    val windows = nodes(d).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(windows.nonEmpty)
    windows.foreach { w =>
      val parts = w.partitionSpec.flatMap(_.references.map(_.name)).toSet
      val childCols = w.child.output.map(_.name).toSet
      assert(parts.contains("__pid") || !childCols.contains("doc_id"),
        s"data-sized window partitioned by $parts over $childCols")
    }
  }

  test("vs07: assignment is row-local — no vector ever shipped; sums combine map-side; zero windows") {
    val d = df("vs07_kmeans_step")
    d.collect()
    val ns = nodes(d)
    // one Lloyd step over 100 TB must never rank OR shuffle per-vector
    // rows: the nearest-centroid choice is a literal-centroid argmax
    // inside the scan's project (assignCells — zero exchanges of its
    // own), so the only shuffle left is the (cid, dim) sums rollup,
    // which combines map-side and carries partial sums — the quantized
    // vector q never enters an exchange
    assert(ns.exists {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
        a.aggregateExpressions.exists((e: AggregateExpression) => e.mode == Partial)
      case _ => false
    })
    assert(!hashShuffleKeys(d).contains(Set("vec_id")),
      "assignment reintroduced its per-vector shuffle")
    exchangePayloads(d).foreach(p =>
      assert(!p.contains("q") && !p.contains("embedding"),
        s"exchange ships per-vector payload: $p"))
    assert(!ns.exists(_.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]))
    noTextPayload(exchangePayloads(d))
  }

  test("vs08: encode and ADC lookups are row-local — no vector ever shuffled, no window; top-k is the bounded aggregator") {
    val d = df("vs08_pq_search")
    d.collect()
    val ns = nodes(d)
    // the 10 queries broadcast WITH their 64-entry distance tables (that
    // payload is the point of ADC); the candidates meet them in a
    // broadcast nested-loop on the <> condition — never a cartesian —
    // and every SHUFFLE carries only GroupedTopK's bounded buffers: the
    // quantized vector, the code array and the distance table must not
    // cross a shuffle wire
    assert(ns.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]))
    assert(!ns.exists(_.isInstanceOf[CartesianProductExec]))
    assert(!hashShuffleKeys(d).contains(Set("vec_id")),
      "encoding reintroduced a per-vector shuffle")
    shuffles(d).map(_.child.output.map(_.name).toSet).foreach(p =>
      assert(!p.contains("q") && !p.contains("embedding")
        && !p.contains("codes") && !p.contains("dtab"),
        s"shuffle ships per-vector payload: $p"))
    assert(ns.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec]))
    assert(!ns.exists(_.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]))
  }

  test("vs15: SQ encode/decode are row-local — no vector or code array ever shuffled, no window; top-k is the bounded aggregator") {
    val d = df("vs15_sq_search")
    d.collect()
    val ns = nodes(d)
    // the 10 exact queries broadcast; candidates meet them in a
    // broadcast nested-loop on the <> condition (never a cartesian);
    // every shuffle carries only GroupedTopK's bounded buffers — the
    // quantized vector, the embedding and the code array must not cross
    // a shuffle wire (at scale the codes ARE the index: 1 byte/dim)
    assert(ns.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]))
    assert(!ns.exists(_.isInstanceOf[CartesianProductExec]))
    shuffles(d).map(_.child.output.map(_.name).toSet).foreach(p =>
      assert(!p.contains("q") && !p.contains("embedding") && !p.contains("codes"),
        s"shuffle ships per-vector payload: $p"))
    assert(ns.exists(_.isInstanceOf[ObjectHashAggregateExec]))
    assert(!ns.exists(_.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]))
  }

  test("sa08: stratified exact draw — bounded per-stratum buffers, no corpus window, text never ships") {
    val d = df("sa08_stratified_exact")
    d.collect()
    val ns = nodes(d)
    // the per-stratum draw is GroupedTopK at k = max quota: partial
    // buffers combine map-side, so the exchange carries at most
    // (strata × k) rows per partition — never a per-stratum sort or
    // window over the corpus, and never the document body
    assert(ns.exists(_.isInstanceOf[ObjectHashAggregateExec]))
    assert(!ns.exists(_.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]))
    shuffles(d).map(_.child.output.map(_.name).toSet).foreach(p =>
      assert(!p.contains("text"), s"shuffle ships document text: $p"))
  }

  test("vs09: IVF-PQ keeps vs06's probe/join contract with PQ payloads — the raw vector never reaches the candidates join") {
    val d = df("vs09_ivfpq_search")
    d.collect()
    val ns = nodes(d)
    // candidates join ON the centroid id (the inverted-list partition
    // key); the only window ranks each query's C centroid distances;
    // the final top-k is the bounded aggregator; and no shuffle carries
    // the quantized vector — the postings side ships (cid, vec_id,
    // codes), which is the entire point of PQ compression
    assert(equiJoinKeys(d).exists(_.contains("cid")))
    assert(!ns.exists(_.isInstanceOf[CartesianProductExec]))
    assert(ns.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec]))
    val windows = ns.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(windows.size == 1, s"expected only the probe-selection window, got ${windows.size}")
    windows.foreach { w =>
      val parts = w.partitionSpec.flatMap(_.references.map(_.name)).toSet
      assert(parts == Set("query_id"), s"window partitioned over $parts")
    }
    shuffles(d).map(_.child.output.map(_.name).toSet).foreach(p =>
      assert(!p.contains("q") && !p.contains("embedding"),
        s"shuffle ships the raw vector: $p"))
  }

  test("vs18: residual IVF-PQ keeps vs09's contract — residuals and per-cell dtabs row-local, vector never at the candidates join") {
    val d = df("vs18_ivfpq_residual")
    d.collect()
    val ns = nodes(d)
    // residuals are a broadcast join against the 8-row quantizer plus a
    // row-local zip_with; the per-(query, cell) distance tables ride the
    // nProbe probe rows (never the corpus); candidates join ON the probed
    // cid; the final top-k is the bounded aggregator. The one window
    // ranks each query's C centroid cosines. No shuffle may carry the
    // quantized vector — the postings side is (cid, vec_id, codes), the
    // PQ-compression point, residual edition.
    assert(equiJoinKeys(d).exists(_.contains("cid")))
    assert(!ns.exists(_.isInstanceOf[CartesianProductExec]))
    assert(ns.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec]))
    val windows = ns.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(windows.size == 1, s"expected only the probe-selection window, got ${windows.size}")
    windows.foreach { w =>
      val parts = w.partitionSpec.flatMap(_.references.map(_.name)).toSet
      assert(parts == Set("query_id"), s"window partitioned over $parts")
    }
    shuffles(d).map(_.child.output.map(_.name).toSet).foreach(p =>
      assert(!p.contains("q") && !p.contains("embedding") && !p.contains("r"),
        s"shuffle ships a vector payload: $p"))
  }

  test("vs19: graph expansion is id-keyed joins + broadcast rescore — no window, no cartesian, vector never shuffled in the search phase") {
    val d = df("vs19_graph_search")
    d.collect()
    val ns = nodes(d)
    // hops join the (query-bounded) frontier against the edge table on
    // src; candidates fetch vectors by an id-keyed join into the store
    // at its own layout (the tiny candidate list broadcasts, the store
    // never moves); the 10 queries broadcast with their vectors; top-5
    // is the bounded aggregator. The standing graph/store frames are
    // checkpointed, so this plan IS the per-query search cost — and it
    // must contain no corpus window, no cartesian, and no exchange
    // carrying a vector payload.
    assert(!ns.exists(_.isInstanceOf[CartesianProductExec]))
    assert(!ns.exists(_.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]))
    assert(ns.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec]))
    assert(equiJoinKeys(d).exists(k => k.contains("src") || k.contains("dst")))
    shuffles(d).map(_.child.output.map(_.name).toSet).foreach(p =>
      assert(!p.contains("q") && !p.contains("qq") && !p.contains("embedding"),
        s"shuffle ships a vector payload: $p"))
  }

  test("pp05: search over maintained postings keeps vs06's plan contract") {
    val d = df("pp05_incremental_ivf")
    d.collect()
    val ns = nodes(d)
    // the probe joins the standing lists ON the centroid id (the IVF
    // physical partition key), and the final top-k stays the bounded
    // aggregator — swapping a maintained table in for the freshly-assigned
    // frame must not reintroduce a candidate-rank window
    assert(equiJoinKeys(d).exists(_.contains("cid")))
    assert(ns.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec]))
    val windows = ns.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(windows.size == 1, s"expected only the probe-selection window, got ${windows.size}")
    windows.foreach { w =>
      val parts = w.partitionSpec.flatMap(_.references.map(_.name)).toSet
      assert(parts == Set("query_id"), s"window partitioned over $parts")
    }
  }

  test("pp14: search over the maintained codes table keeps vs09's plan contract") {
    val d = df("pp14_incremental_pq")
    d.collect()
    val ns = nodes(d)
    // swapping the standing codes table in for the freshly-encoded frame
    // must not change the scorer's shape: candidates join ON cid, the
    // bounded aggregator stays, one probe window, and no shuffle ever
    // ships the quantized vector — the postings side is codes-only
    assert(equiJoinKeys(d).exists(_.contains("cid")))
    assert(!ns.exists(_.isInstanceOf[CartesianProductExec]))
    assert(ns.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec]))
    val windows = ns.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(windows.size == 1, s"expected only the probe-selection window, got ${windows.size}")
    shuffles(d).map(_.child.output.map(_.name).toSet).foreach(p =>
      assert(!p.contains("q") && !p.contains("embedding"),
        s"shuffle ships the raw vector: $p"))
  }

  test("vs10: rerank joins are broadcast — the corpus is never shuffled to rerank a shortlist") {
    val d = df("vs10_ivf_rerank")
    d.collect()
    val ns = nodes(d)
    // the exact leg touches full vectors only through broadcast joins of
    // the tiny shortlist/query frames against the vector store at its own
    // layout; shuffling the store to meet a ~100-row shortlist is the
    // scale bug this pin guards. The shortlist side arrives pre-shuffled
    // from the ADC leg (whose contract vs09's pin owns); no NEW exchange
    // may carry a vector payload.
    assert(!ns.exists(_.isInstanceOf[CartesianProductExec]))
    assert(ns.count(_.isInstanceOf[BroadcastHashJoinExec]) >= 2,
      "shortlist and query frames must broadcast into the vector store")
    shuffles(d).map(_.child.output.map(_.name).toSet).foreach(p =>
      assert(!p.contains("q") && !p.contains("qq") && !p.contains("embedding"),
        s"shuffle ships a vector payload: $p"))
    // two per-query windows: probe selection (ADC leg) + the rerank
    val windows = ns.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(windows.size == 2, s"expected probe + rerank windows, got ${windows.size}")
    windows.foreach { w =>
      val parts = w.partitionSpec.flatMap(_.references.map(_.name)).toSet
      assert(parts == Set("query_id"), s"window partitioned over $parts")
    }
  }

  test("sa05: rates broadcast onto the scan; no exchange ships document text") {
    val d = df("sa05_temperature_resample")
    d.collect()
    val ns = nodes(d)
    // the per-source rate table is agg-derived and tiny — it must come
    // back to the corpus as a broadcast (a source-keyed shuffle of the
    // corpus to meet a handful of rate rows is the scale bug), and the
    // document body must never ride an exchange: the counts pass reads
    // (source), the membership pass reads (doc_id, source)
    assert(ns.exists(_.isInstanceOf[BroadcastHashJoinExec]))
    exchangePayloads(d).foreach(p =>
      assert(!p.contains("text"), s"exchange ships the document body: $p"))
  }

  test("dd14: canonical selection is a combinable aggregate — no corpus window, text never ships") {
    val d = df("dd14_canonical_keep")
    d.collect()
    val ns = nodes(d)
    // the per-cluster argmax must stay an aggregate (map-side partials
    // collapse each partition to one candidate per cluster before the
    // exchange) — a row_number window over the corpus is the shape this
    // pin forbids; and the verdict pipeline moves ids + integer scores
    // only, never the document body
    assert(!ns.exists(_.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]),
      "canonical selection compiled as a window")
    exchangePayloads(d).foreach(p =>
      assert(!p.contains("text"), s"exchange ships the document body: $p"))
  }

  test("mm03: digest-keyed dedup — the binary payload never rides an exchange") {
    val d = df("mm03_binary_dedup")
    d.collect()
    val ns = nodes(d)
    assert(ns.exists { n =>
      n.isInstanceOf[HashAggregateExec] &&
        n.expressions.exists(_.exists {
          case ae: AggregateExpression => ae.mode == Partial
          case _ => false
        })
    }, "no map-side partial aggregation before the digest exchange")
    exchangePayloads(d).foreach(p =>
      assert(!p.contains("blob") && !p.contains("text"),
        s"exchange ships the payload: $p"))
  }

  test("mm04: perceptual near-dup — the payload is signed at the scan and never rides an exchange") {
    val d = df("mm04_perceptual_dedup")
    d.collect()
    // every shuffle carries ids + band ints only: the blob (and the text
    // it derives from) must be column-pruned out before the first
    // exchange — the 100 TB contract of the mm family
    exchangePayloads(d).foreach(p =>
      assert(!p.contains("blob") && !p.contains("text"),
        s"exchange ships the payload: $p"))
    // no cartesian anywhere: candidates come from the band-value
    // equi-join, verification from id equi-joins
    assert(!nodes(d).exists(_.isInstanceOf[CartesianProductExec]))
    assert(equiJoinKeys(d).exists(k => k.contains("band") && k.contains("v")),
      "candidate join must key on (band, value)")
  }

  test("dd10: pair space is cell-blocked — pairs join ON cid, no cartesian, no window") {
    val d = df("dd10_semantic_dedup")
    d.collect()
    val ns = nodes(d)
    // the within-cell self-join must key on the centroid id (the IVF
    // inverted-list partition key) — an unkeyed pair join would be the N²
    // cartesian the cell blocking exists to avoid
    assert(equiJoinKeys(d).exists(_.contains("cid")))
    assert(!ns.exists(_.isInstanceOf[CartesianProductExec]))
    // assignment is row-local (vs07's contract): the FIRST exchange a
    // vector sees is the cid pair layout itself — no per-vector argmax
    // shuffle upstream; the drop rollup still combines map-side, and
    // zero windows anywhere in the drop-list plan
    assert(!hashShuffleKeys(d).contains(Set("vec_id")),
      "assignment reintroduced its per-vector shuffle")
    assert(ns.exists {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
        a.aggregateExpressions.exists((e: AggregateExpression) => e.mode == Partial)
      case _ => false
    })
    assert(!ns.exists(_.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]))
    // exchanges carry the quantized q, never the raw float embedding
    exchangePayloads(d).foreach(p =>
      assert(!p.contains("embedding"), s"exchange ships raw embeddings: $p"))
  }

  test("pp38: maintained LSH index probes on (table, bucket) — never a pair; no cartesian, no window; no raw embeddings shipped") {
    val d = df("pp38_incremental_lsh")
    d.collect()
    val ns = nodes(d)
    // the probe join must key on the hash bucket (the LSH shuffle-key
    // contract: N² pair space becomes Σ|bucket|², each table one shuffle)
    assert(equiJoinKeys(d).exists(k => k.contains("table") && k.contains("bucket")),
      s"probe join not bucket-keyed: ${equiJoinKeys(d)}")
    assert(!ns.exists(_.isInstanceOf[CartesianProductExec]))
    // the rank merge is the bounded-buffer aggregator, never a window sort
    assert(!ns.exists(_.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]))
    // exchanges carry the quantized cq, never the raw float embedding
    exchangePayloads(d).foreach(p =>
      assert(!p.contains("embedding"), s"exchange ships raw embeddings: $p"))
  }

  test("pp10: advance probes via broadcast; pair join keys on cid; no cartesian/window; no raw embeddings shipped") {
    val d = df("pp10_incremental_semdedup")
    d.collect()
    val ns = nodes(d)
    // affected-detection, touched-id prune and touched-cell prune are all
    // broadcast probes of batch-bounded sets — never a corpus shuffle
    assert(ns.count(_.isInstanceOf[BroadcastHashJoinExec]) >= 3)
    assert(equiJoinKeys(d).exists(_.contains("cid")))
    assert(!ns.exists(_.isInstanceOf[CartesianProductExec]))
    assert(!ns.exists(_.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]))
    exchangePayloads(d).foreach(p =>
      assert(!p.contains("embedding"), s"exchange ships raw embeddings: $p"))
  }

  test("ta08: corpus appears in one vocab shuffle; pair counting is vocab-sized; top-50 is TakeOrderedAndProject") {
    val d = df("ta08_bpe_pairs")
    val ns = nodes(d)
    // word-frequency rollup and pair rollup both combine map-side
    // (partial+final ⇒ ≥4 hash aggregates), and the ONLY file scan is the
    // one corpus pass that feeds the vocab rollup — every later stage
    // reads vocab-sized data, which is the whole reason BPE training
    // scales
    assert(ns.count(_.isInstanceOf[HashAggregateExec]) >= 4)
    assert(fileScans(d).size == 1)
    assert(ns.exists(_.isInstanceOf[TakeOrderedAndProjectExec]))
    assert(!ns.exists(_.isInstanceOf[SortExec]))
    noTextPayload(exchangePayloads(d))
  }

  test("ta09: one corpus scan; bigram rollup combines map-side; top-100 is TakeOrderedAndProject") {
    val d = df("ta09_bigram_lm")
    val ns = nodes(d)
    // the corpus appears in exactly one file scan and one (combinable)
    // shuffle — the continuation window runs over the already-aggregated
    // vocab-bounded bigram table, not the corpus
    assert(fileScans(d).size == 1)
    assert(ns.exists {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
        a.aggregateExpressions.exists((e: AggregateExpression) => e.mode == Partial)
      case _ => false
    })
    assert(ns.exists(_.isInstanceOf[TakeOrderedAndProjectExec]))
    noTextPayload(exchangePayloads(d))
  }

  test("pp13: LM advance keeps ta09's shape over the merged counts; text never ships") {
    val d = df("pp13_incremental_lm")
    d.collect()
    val ns = nodes(d)
    // the batch branch re-counts ONLY the batch (one documents scan,
    // batch-filtered at the source); the standing counts are a parquet
    // SESSION TABLE since round 9 (the pp04 treatment) — their scan reads
    // the already-aggregated (bigram, n) table, never text; the merge +
    // the continuation window run over the vocab²-bounded union, and the
    // top-100 never globally sorts
    val scans = fileScans(d)
    assert(scans.size == 2, s"expected batch + standing-counts scans, got $scans")
    assert(scans.count(_.toString.contains("documents")) == 1,
      "corpus must appear in exactly one (batch-filtered) scan")
    assert(ns.exists {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
        a.aggregateExpressions.exists((e: AggregateExpression) => e.mode == Partial)
      case _ => false
    })
    assert(ns.exists(_.isInstanceOf[TakeOrderedAndProjectExec]))
    noTextPayload(exchangePayloads(d))
  }

  test("ta12: corpus rolled up and materialized once — both consumers read the checkpoint; LM join bigram-keyed; text never ships") {
    val d = df("ta12_lm_quality_filter")
    d.collect()
    val ns = nodes(d)
    // the per-(doc, bigram) rollup feeds BOTH the join's left side and
    // the LM derivation; the gate materializes it once (Catalyst would
    // otherwise compile the dual-consumed subplan as TWO corpus scans —
    // column pruning diverges the consumers' outputs, so exchange reuse
    // cannot dedupe them; measured when this pin asserted reuse). The
    // final plan must read the checkpoint twice and the corpus not at all
    assert(fileScans(d).isEmpty,
      s"corpus re-scanned ${fileScans(d).size} times past the materialized rollup")
    assert(ns.count(_.isInstanceOf[RDDScanExec]) == 2)
    assert(ns.exists {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
        a.aggregateExpressions.exists((e: AggregateExpression) => e.mode == Partial)
      case _ => false
    })
    assert(equiJoinKeys(d).exists(_.contains("bigram")))
    noTextPayload(exchangePayloads(d))
  }

  test("ta10: coverage pass joins the broadcast 1k vocab — no corpus-sized join shuffle; doc rollup combines map-side") {
    val d = df("ta10_vocab_coverage")
    val ns = nodes(d)
    assert(ns.exists(_.isInstanceOf[BroadcastHashJoinExec]))
    // per-doc rollup has a partial pass, so the doc-keyed exchange
    // carries (doc_id, two longs), never token rows
    assert(ns.exists {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
        a.aggregateExpressions.exists((e: AggregateExpression) => e.mode == Partial)
      case _ => false
    })
    noTextPayload(exchangePayloads(d))
  }

  test("pp06: span advance prunes standing reads via broadcast; body never ships") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, sf)
    val isNew = QueryUtils.hex8(concat(lit("spn:"), col("doc_id").cast("string"))) % 5 === 0
    val old = docs.filter(!isNew)
    val oldGrams = TextOps.spanStore(old).localCheckpoint(true)
    val oldCounts = oldGrams.groupBy(col("h")).agg(count(lit(1)).as("nd"))
      .localCheckpoint(true)
    val captured = scala.collection.mutable.Buffer[org.apache.spark.sql.DataFrame]()
    val hook: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame = { f =>
      captured += f; f.localCheckpoint(true)
    }
    val adv = TextOps.spanAdvance(oldGrams, oldCounts,
      TextOps.spanStore(docs.filter(isNew)), hook)
    // the standing counts are PROBED by the (small, broadcast) batch hash
    // set — the totals stage must plan the prune as a broadcast semi join
    // on h, never shuffle the counts table to meet the batch
    assert(captured.size == 3) // batch grams, batch counts, totals
    assert(nodes(captured(2)).exists {
      case j: BroadcastHashJoinExec => j.joinType == LeftSemi &&
        (j.leftKeys ++ j.rightKeys).flatMap(_.references.map(_.name)).toSet.contains("h")
      case _ => false
    })
    // the old-doc delta reads the store pruned to crossing hashes the
    // same way, and nothing in the advance ships text or keys outside
    // the (h, doc_id) contract
    Seq(adv.oldDelta, adv.newRows).foreach { f =>
      f.collect()
      assert(nodes(f).exists {
        case j: BroadcastHashJoinExec =>
          (j.leftKeys ++ j.rightKeys).flatMap(_.references.map(_.name)).toSet.contains("h")
        case _ => false
      })
      hashShuffleKeys(f).foreach(k => assert(k.subsetOf(Set("h", "doc_id")),
        s"span advance exchange keyed on $k"))
      noTextPayload(exchangePayloads(f))
    }
  }

  test("ta07: vocab rollup combines map-side; global top-100 is TakeOrderedAndProject") {
    val d = df("ta07_vocab")
    val ns = nodes(d)
    // df is a plain count over per-(token, doc) rows — never a
    // count-distinct over the raw token stream — so both shuffles carry
    // partial aggregates, and the top-100 never globally sorts the vocab
    assert(ns.count(_.isInstanceOf[HashAggregateExec]) >= 4)
    assert(ns.exists(_.isInstanceOf[TakeOrderedAndProjectExec]))
    assert(!ns.exists(_.isInstanceOf[SortExec]))
    noTextPayload(exchangePayloads(d))
  }

  test("q43: hash exchanges key on the group and carry buffers, not detail rows") {
    val d = df("q43_grouped_topk")
    d.collect()
    val hashShuffles = shuffles(d).filter(_.outputPartitioning
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning])
    assert(hashShuffles.nonEmpty)
    hashShuffles.foreach { s =>
      val payload = s.child.output.map(_.name).toSet
      // the detail columns ride INSIDE the serialized top-k buffer; raw
      // (o_orderkey, o_totalprice) rows must not cross the agg exchange
      // (the final global orderBy is a range exchange, not counted here)
      assert(!payload.contains("o_orderkey") && !payload.contains("o_totalprice"),
        s"agg exchange ships detail rows: $payload")
    }
  }

  test("dd13: no exchange ships text or raw shingles; probes are a bounded aggregate; no cartesian") {
    val d = df("dd13_containment_index")
    d.collect()
    val ns = nodes(d)
    // the shingle strings fold to 8-byte h in the scan's projection — no
    // exchange anywhere in the plan may carry the body or a shingle
    // string (the index, probe, candidate and verify stages all move
    // (doc_id, h)-shaped rows)
    exchangePayloads(d).foreach(p =>
      assert(!p.contains("text") && !p.contains("sh"),
        s"exchange ships text/shingles: $p"))
    // the bottom-k probe set is the bounded-buffer aggregator, never a
    // per-doc window sort over the corpus-sized shingle table
    assert(ns.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec]))
    assert(!ns.exists(_.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]))
    assert(!ns.exists(_.isInstanceOf[CartesianProductExec]))
    // candidate generation and verification join on the 8-byte fold
    assert(equiJoinKeys(d).exists(_.contains("h")))
  }

  test("pp12: advance keeps dd13's contracts; standing-probe prune is a broadcast") {
    val d = df("pp12_incremental_containment_index")
    d.collect()
    val ns = nodes(d)
    exchangePayloads(d).foreach(p =>
      assert(!p.contains("text") && !p.contains("sh"),
        s"exchange ships text/shingles: $p"))
    // the standing probe table meets the batch's hash set via a
    // broadcast (the batch side is small by contract) — shuffling the
    // standing probes to meet a batch would be a corpus-sized exchange
    // per advance
    assert(ns.exists(_.isInstanceOf[BroadcastHashJoinExec]))
    assert(!ns.exists(_.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]))
    assert(!ns.exists(_.isInstanceOf[CartesianProductExec]))
  }

  test("dd15: canonicalized dedup keeps dd01's contract — digests computed at the scan, text never rides an exchange") {
    val d = df("dd15_norm_dedup")
    d.collect()
    assert(nodes(d).exists { n =>
      n.isInstanceOf[HashAggregateExec] &&
        n.expressions.exists(_.exists {
          case ae: AggregateExpression => ae.mode == Partial
          case _ => false
        })
    }, "no map-side partial aggregation before the digest exchange")
    exchangePayloads(d).foreach(p =>
      assert(!p.contains("text"), s"exchange ships the document body: $p"))
  }

  test("sa06: epoch repeat is row-local — no exchange before the explode, and none ships text") {
    val d = df("sa06_epoch_upsample")
    d.collect()
    // membership, repeat count, and the sequence explode are all pure
    // row functions of the scan: the ONLY exchange the gate may contain
    // is its deterministic output ORDER BY (a range exchange, not hash)
    assert(hashShuffleKeys(d).isEmpty,
      s"epoch up-sampling hash-shuffles: ${hashShuffleKeys(d)}")
    exchangePayloads(d).foreach(p =>
      assert(!p.contains("text"), s"exchange ships the document body: $p"))
  }

  test("q44: both windows (dedup lag, interval lead) share ONE user_id exchange") {
    val d = df("q44_change_intervals")
    d.collect()
    val userKeyed = hashShuffleKeys(d).count(_ == Set("user_id"))
    assert(userKeyed == 1,
      s"expected exactly one user_id exchange feeding both windows, got $userKeyed")
  }

  test("ta13: per-doc top-3 is a bounded aggregate (no window); df joins back tok-keyed; text never ships") {
    val d = df("ta13_tfidf_terms")
    d.collect()
    val ns = nodes(d)
    assert(!ns.exists(_.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]),
      "keyword top-3 fell back to a window")
    assert(ns.exists(_.isInstanceOf[ObjectHashAggregateExec]),
      "bounded-buffer top-k aggregate missing")
    exchangePayloads(d).foreach(p =>
      assert(!p.contains("text"), s"exchange ships the document body: $p"))
  }

  test("vs13: kNN graph self-join keys on cid, reuses one postings exchange; no probe window, no cartesian") {
    val d = df("vs13_knn_graph")
    d.collect()
    val ns = nodes(d)
    // the one window-free contract: assignment is row-local, the probe
    // IS the assignment, so no WindowExec anywhere (vs06 keeps one for
    // its per-query centroid ranking — this gate must not)
    assert(!ns.exists(_.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]),
      "kNN graph plans a window")
    assert(!ns.exists(_.isInstanceOf[CartesianProductExec]))
    assert(equiJoinKeys(d).exists(_.contains("cid")), "pair join not cid-keyed")
    // both self-join sides are the same frame at the same cid layout —
    // the second side must come back as a ReusedExchange, not a second
    // corpus shuffle
    assert(nodes(d.queryExecution.executedPlan)
      .exists(_.isInstanceOf[ReusedExchangeExec]),
      "postings exchange not reused across the self-join")
  }

  test("sa07: exact-k draw is TakeOrderedAndProject — no global corpus sort") {
    val d = df("sa07_exact_size_sample")
    val ns = nodes(d)
    assert(ns.exists(_.isInstanceOf[TakeOrderedAndProjectExec]),
      "exact-k sample lost its bounded-buffer top-k shape")
    assert(!ns.exists(_.isInstanceOf[SortExec]),
      "exact-k sample plans a full sort")
  }

  test("pp18: standing vocab from the session table; batch + encode are the only documents scans; text never ships") {
    val d = df("pp18_incremental_bpe")
    d.collect()
    // the trained segmentation is materialized (bpeSegmentation
    // localCheckpoints each iteration — the driver-bounded loop's
    // lineage would otherwise nest k plans deep), so the FINAL plan
    // contains exactly ONE file scan: the full documents scan the
    // encode join pays — the one corpus-shaped job any tokenizer
    // deployment has. The vocab advance's batch + standing-table scans
    // happen inside the checkpointed training job, upstream of this
    // plan. No exchange carries the document body — the encode join
    // keys on the token.
    val scans = fileScans(d)
    assert(scans.size == 1 && scans.head.toString.contains("documents"),
      s"expected the encode documents scan alone, got $scans")
    noTextPayload(exchangePayloads(d))
  }

  test("pp19: advance plan reads only the standing session tables — no corpus re-scan, payload never ships") {
    val d = df("pp19_incremental_perceptual")
    d.collect()
    // the 80% is state, not work: the batch is signed inside its
    // localCheckpoint job (the payload never even reaches this plan), so
    // the FINAL plan reads ONLY the standing parquet session tables —
    // zero documents scans; the standing signature store and pair report
    // come in at their own layout
    val scans = scanRoots(d)
    assert(scans.count(_.contains("documents")) == 0,
      s"corpus re-scanned in the advance plan: $scans")
    assert(scans.exists(_.contains("sigs")) && scans.exists(_.contains("pairs")),
      s"standing state not read from the session tables: $scans")
    exchangePayloads(d).foreach(p =>
      assert(!p.contains("blob") && !p.contains("text"),
        s"exchange ships the payload: $p"))
    assert(!nodes(d).exists(_.isInstanceOf[CartesianProductExec]))
  }

  test("ta15: one corpus scan behind the token checkpoint; LM join bigram-keyed; inference row-local; text never ships") {
    val d = df("ta15_quality_classifier")
    d.collect()
    val ns = nodes(d)
    // the tokenized arrays are checkpointed once (the persisted
    // tokenizer-output table of a production stack): the final plan
    // reads checkpoints only, never the corpus — and there is no window
    // anywhere (every feature is a combinable aggregate; the score is a
    // row-local integer dot product)
    assert(fileScans(d).isEmpty,
      s"corpus re-scanned past the token checkpoint: ${fileScans(d)}")
    assert(!ns.exists(_.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]),
      "ta15 plans a window")
    assert(equiJoinKeys(d).exists(_.contains("bigram")),
      "LM join must key on the bigram (vocab-squared vs docs is not broadcastable)")
    assert(equiJoinKeys(d).exists(_.contains("doc_id")),
      "feature join must key on doc_id")
    noTextPayload(exchangePayloads(d))
  }

  test("vs14: nProbe=2 kNN graph stays window-free (rank-2 probe is row-local), cid-keyed, no cartesian") {
    val d = df("vs14_knn_graph_probe2")
    d.collect()
    val ns = nodes(d)
    // the gate's whole point: BOTH probe cells per vector come from
    // row-local native expressions (rank-1 assignment + rank-2
    // second-nearest), so even at nProbe = 2 there is NO WindowExec
    // anywhere — the window form would rank N × nlist rows through an
    // exchange to compute a pure per-row function of the fixed quantizer
    assert(!ns.exists(_.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]),
      "nProbe=2 kNN graph plans a window")
    assert(!ns.exists(_.isInstanceOf[CartesianProductExec]))
    assert(equiJoinKeys(d).exists(_.contains("cid")), "pair join not cid-keyed")
  }

  test("ta16: the rule battery is a pure map over the scan — the only exchange is the oracle's output order") {
    val d = df("ta16_rule_filter")
    d.collect()
    val ns = nodes(d)
    // every feature (including the max-token-count) is computed in-row
    // with array functions: no aggregate, no join, no window — at 100 TB
    // the battery costs exactly one pass over the corpus. The single
    // allowed exchange is the final orderBy's range partitioning (the
    // oracle's output-order contract), which a production run drops.
    assert(!ns.exists(_.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]))
    assert(equiJoinKeys(d).isEmpty, "rule battery must not join")
    assert(!ns.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.aggregate.HashAggregateExec]),
      "rule battery must not aggregate")
    assert(shuffles(d).size <= 1, s"more than the output-order exchange: ${shuffles(d)}")
    noTextPayload(exchangePayloads(d).filterNot(_.contains("doc_id")))
  }

  test("mm05: CDC chunk dedup — payload chunked and digested at the scan, never rides an exchange, digest-keyed rollup combines map-side") {
    val d = df("mm05_chunk_dedup")
    d.collect()
    val ns = nodes(d)
    // the blob (and the text it derives from) is columnar-pruned before
    // the explode's output hits any exchange: the only shuffle payload
    // is (digest, id, clen) — mm03/mm04's 100 TB contract at chunk
    // granularity
    exchangePayloads(d).foreach(p =>
      assert(!p.contains("blob") && !p.contains("text") && !p.contains("__blob"),
        s"exchange ships the payload: $p"))
    assert(!ns.exists(_.isInstanceOf[CartesianProductExec]))
    assert(hashShuffleKeys(d).exists(_.contains("digest")),
      "dup report must shuffle on the chunk digest")
  }

  test("q47: histogram percentile — every window sits above an aggregate (never sorts value rows) and == q41 exactly") {
    val d = df("q47_percentile_histogram")
    val got = d.collect().map(_.toSeq.toList).toList
    assert(got == df("q41_percentile").collect().map(_.toSeq.toList).toList,
      "histogram selection drifted from the sort-based exact percentiles")
    // the windows (cumulative bucket rank, within-bucket rank) must run
    // over AGGREGATED frames: every WindowExec's subtree contains an
    // aggregate between it and any scan — q41's corpus value sort is
    // exactly what this plan exists to avoid
    nodes(d).collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
      .foreach { w =>
        assert(nodes(w.child).exists(n =>
          n.isInstanceOf[HashAggregateExec] ||
          n.isInstanceOf[org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec] ||
          n.isInstanceOf[org.apache.spark.sql.execution.aggregate.SortAggregateExec]),
          "a window runs directly over un-aggregated value rows")
      }
  }

  test("sa09: weighted draw is TakeOrderedAndProject — ticket fan-out row-local, no explode, no corpus sort") {
    val d = df("sa09_weighted_sample")
    d.collect()
    val ns = nodes(d)
    assert(ns.exists(_.isInstanceOf[TakeOrderedAndProjectExec]),
      "weighted top-K must plan as TakeOrderedAndProject")
    assert(!ns.exists(_.isInstanceOf[SortExec]), "no global sort of the corpus")
    assert(!ns.exists(_.isInstanceOf[org.apache.spark.sql.execution.GenerateExec]),
      "tickets must fan out inside a row-local transform, not an explode")
    noTextPayload(exchangePayloads(d))
  }

  test("codegen guard: the r18/r19 native rewrites keep their interpreted-expression sets") {
    // the gates whose interpreted higher-order encodes were replaced by
    // native expressions (PQ/SQ encode, cdc_chunk_rows, token_row_stats):
    // each gate's CodegenFallback names must stay exactly these, so a
    // rewrite back to a composed transform(...) form fails here
    val allowed = Map(
      // its distance-table scoring (dtab, adist) and top-k buffer stay
      // interpreted; its encode is native
      "vs08_pq_search" -> Set("aggregate", "lambdafunction",
        "namedlambdavariable", "topkagg", "transform", "zip_with"),
      "vs16_pq_train" -> Set.empty[String],
      "vs21_opq_train" -> Set.empty[String],
      "mm05_chunk_dedup" -> Set.empty[String],
      "pp21_incremental_chunks" -> Set.empty[String],
      "ta16_rule_filter" -> Set.empty[String],
      "ta19_classifier_train" -> Set.empty[String])
    val got = allowed.keys.map(g => g -> interpretedOverRun(g)).toMap
    assert(got == allowed, s"interpreted expressions changed: $got")
  }

  /** Interpreted-expression names over EVERY plan a gate executes (its
    * checkpointed and collected frames too, not only the final one), on a
    * second run: the first builds any once-per-session standing state. */
  private def interpretedOverRun(name: String): Set[String] = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.execution.QueryExecution
    def write(): Unit = df(name).write.format("noop").mode("overwrite").save()
    write()
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val written = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        interpreted(qe.executedPlan).foreach(seen.add)
        if (graft.Profile.isNoopWrite(qe)) written.countDown()
      }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      write()
      // the write's event is the last of the run on the listener bus
      assert(written.await(60, java.util.concurrent.TimeUnit.SECONDS),
        s"$name: the write's execution never reached the listener")
    } finally spark.listenerManager.unregister(listener)
    seen.asScala.toSet
  }
}
