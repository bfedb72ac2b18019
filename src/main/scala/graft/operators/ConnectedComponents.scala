package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** Connected components — the step that turns near-dup *pair* lists or
  * LSH *bucket memberships* into dedup *groups*: every document gets
  * `component` = the smallest doc id reachable through the graph, so
  * "keep one per group" is `component == id`.
  *
  * Two algorithms, one contract:
  *
  *  - [[labelPropagate]] — generic edge-list input (any pair source).
  *  - [[bipartite]] — item–bucket membership input, the LSH-native form.
  *    LSH candidates are cliques per bucket: materializing them as pairs
  *    costs k(k−1)/2 edges for a k-doc bucket (quadratic in exactly the
  *    hot buckets that are the skew risk at 100 TB), while the membership
  *    table stays k rows and the per-bucket min is one map-side-combinable
  *    aggregate. Same components, strictly less work — preferred whenever
  *    the graph came from bucketing.
  *
  * Every round is joins + min aggregates keyed on vertex/bucket ids (never
  * on payloads); the smallest label floods a component in O(diameter)
  * propagation hops, and near-dup clusters are shallow (dups of one
  * source), so a handful of materialized rounds suffices at any scale. The
  * driver-side loop is control flow only — each round reads one empty/
  * non-empty signal, no data is collected.
  */
object ConnectedComponents {

  /** vertices(idCol); edges(srcCol, dstCol), treated as undirected.
    * Returns (idCol, component). Each round applies TWO propagation hops
    * and convergence needs one fully-quiet round, so maxIter=16 covers
    * components of diameter up to 2·maxIter − 2 = 30; convergence is
    * checked every round, so the bound is never paid on real dedup graphs.
    *
    * Only edge-incident vertices iterate: an isolated vertex (the vast
    * majority of a deduped corpus) can never change label, so it joins the
    * result through one final map-side stitch instead of riding every
    * round. The per-round work scales with the dup graph, not the corpus.
    *
    * `materialize` is the checkpoint strategy for the edge list and each
    * round's labels. The default, eager localCheckpoint, is the fast path
    * but is NOT recoverable on executor loss (lineage is truncated); on a
    * cluster with spot/decommissioning executors pass
    * `_.checkpoint(eager = true)` (requires `sc.setCheckpointDir`) for
    * reliable storage — the algorithm is unchanged. */
  def labelPropagate(vertices: DataFrame, edges: DataFrame,
      idCol: String = "id", srcCol: String = "src", dstCol: String = "dst",
      maxIter: Int = 16,
      materialize: DataFrame => DataFrame = _.localCheckpoint(true)): DataFrame = {
    // EAGERLY materialize the directed edge list (checkpoint, not a lazy
    // persist): the union below reads it via two branches that can run
    // as parallel stages, and a lazily-cached frame races them past the
    // unfilled cache — dd06's whole LSH candidate generation ran twice
    // that way. Checkpoint-block reads also measure ~35% faster per round
    // than InMemoryRelation scans here.
    val directed = materialize(
      edges.select(col(srcCol).as("__s"), col(dstCol).as("__d")))
    val undirected = directed.unionByName(
      directed.select(col("__d").as("__s"), col("__s").as("__d")))

    // one propagation hop: component := min(component, min over neighbors);
    // preserves the __old column for the convergence check
    def hop(ls: DataFrame): DataFrame = {
      val nbrMin = undirected
        .join(ls.select(col(idCol), col("component")), col("__d") === col(idCol))
        .groupBy(col("__s")).agg(min(col("component")).as("__nbr"))
      ls.join(nbrMin, col(idCol) === col("__s"), "left")
        .select(col(idCol), col("__old"),
          least(coalesce(col("__nbr"), col("component")), col("component"))
            .as("component"))
    }

    var labels = undirected.select(col("__s").as(idCol)).distinct()
      .select(col(idCol), col(idCol).as("component"))
    var retired: Option[DataFrame] = None
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // TWO hops per materialized round: labels are monotone non-increasing
      // under min-propagation, so a change can never revert — composing
      // hops halves the blocking checkpoint barriers without touching the
      // fixpoint or its detection.
      // localCheckpoint (not persist): each round's plan references the
      // previous round's twice, so without truncating the lineage the
      // logical plan doubles per round — exponential analysis cost long
      // before any data is big.
      val next = materialize(
        hop(hop(labels.withColumn("__old", col("component")))))
      // one scalar action on the checkpointed frame: did any label move?
      converged = next.filter(col("component") =!= col("__old")).isEmpty
      // the retired round fed `next` (now materialized) and the check —
      // nothing references it anymore; free its blocks instead of leaving
      // them pinned until driver GC + ContextCleaner get around to it
      retired.foreach(Bridge.unpersistMaterialized)
      retired = Some(next)
      labels = next.drop("__old")
      iter += 1
    }
    // fail loud, not wrong: an unconverged result would silently mislabel
    // the far end of any component whose diameter exceeds maxIter (and
    // diverge from dd06's exact recursive-CTE oracle). Real dedup graphs
    // converge in a handful of rounds; a hit here means raise maxIter.
    if (!converged) throw new IllegalStateException(
      s"connected components did not converge within $maxIter rounds — " +
        "a component's diameter exceeds 2*maxIter - 2; raise maxIter")
    // the loop is over: the labels checkpoint is self-contained, so the
    // edge list's blocks can go too
    Bridge.unpersistMaterialized(directed)
    // stitch the isolated vertices back: component = own id
    vertices.join(labels, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("component"), col(idCol)).as("component"))
  }

  /** Connected components over an item–bucket membership table: two items
    * are connected iff they ever share a bucket. Returns (idCol, component
    * = min reachable item id) for every item IN the table — callers stitch
    * bucketless items back themselves (component = own id).
    *
    * One wave is item→bucket→item: each bucket takes the min label of its
    * members (map-side-combinable min, one row per bucket no matter how
    * hot), each item takes the min over its buckets — covering distance 2
    * of the equivalent pair graph without ever materializing the pairs.
    * The first materialized round floods THREE waves (labels are monotone
    * non-increasing, so composing waves cannot overshoot the fixpoint);
    * every later round is one wave, whose quiescence is a full convergence
    * proof. One wave is a closed-neighborhood min — ONE pair-graph hop
    * (doc→bucket→doc) — so coverage is maxIter + 2 hops (three waves in
    * round 0, one per later round, the final round doubling as the quiet
    * proof): maxIter=16 covers diameters to ~17; real LSH dedup
    * graphs (chains of a few buckets) converge in 2 rounds, the second
    * being the quiet one.
    *
    * `materialize` as in [[labelPropagate]]: eager localCheckpoint default,
    * pass `_.checkpoint(true)` for executor-loss-recoverable rounds. */
  def bipartite(members: DataFrame,
      idCol: String = "id", bucketCol: String = "bucket",
      maxIter: Int = 16,
      materialize: DataFrame => DataFrame = _.localCheckpoint(true)): DataFrame = {
    // distinct: duplicate memberships would only re-derive the same min,
    // but they multiply every wave's join fanout. A single-member bucket
    // cannot connect anything: pruning it (the window count — ONE shuffle,
    // vs three for a groupBy + semi-join) keeps the iteration on
    // bucket-SHARING items only — the dup graph, not the corpus (the
    // overwhelmingly-isolated majority re-enters through the caller's
    // stitch). Materialized once in one barrier — every round reads these
    // blocks, never the upstream bucketing.
    import org.apache.spark.sql.expressions.Window
    // r18 optimization (guide §2.4 — shared exchanges): every wave joins
    // the membership table TWICE, once item-keyed and once bucket-keyed.
    // A single checkpointed copy satisfies neither join's distribution,
    // so each wave re-exchanged the pruned membership table (the dup
    // graph × bands — small at gate scale, but growing with the dup rate
    // at corpus scale) 2-3 times. Materialize the table ONCE PER KEY
    // instead: `mB` rides the window's own hashpartitioning(__b) straight
    // into the checkpoint (no extra exchange — the prune and the
    // bucket-join key coincide), `mI` pays one explicit repartition(__i)
    // (measured ~0.05 s at sf0.1). localCheckpoint captures the physical
    // partitioning in the LogicalRDD, so the rounds' joins reuse it and a
    // wave's data movement drops toward the two exchanges the
    // doc→bucket→doc propagation fundamentally is (label rows by __b,
    // then by __i). Honest gate-scale effect: dd06 2.63 → 2.50 s at
    // sf0.1 — the rounds there are STAGE-LATENCY-bound (~12 micro-stage
    // barriers across round 0's three composed waves), so the win is
    // structural (bytes-per-wave at scale), not local wall time.
    val mB = materialize(
      members.select(col(idCol).as("__i"), col(bucketCol).as("__b")).distinct()
        .withColumn("__n", count(lit(1)).over(Window.partitionBy(col("__b"))))
        .filter(col("__n") >= 2).drop("__n"))
    val mI = materialize(mB.repartition(col("__i")))

    // one wave: bucket := min over members, item := min over its buckets.
    // The item's own label rides through its buckets' minima (it is a
    // member), so no separate self-union is needed.
    def wave(ls: DataFrame): DataFrame = {
      val bmin = mI.join(ls, "__i")
        .groupBy(col("__b")).agg(min(col("component")).as("__bc"))
      mB.join(bmin, "__b")
        .groupBy(col("__i")).agg(min(col("__bc")).as("component"))
    }
    // final wave of a round: same propagation, but rides the incoming
    // label alongside as __old so convergence is a filter on the
    // materialized frame — no separate old-vs-new join job
    def waveCarryOld(ls: DataFrame): DataFrame = {
      val bmin = mI.join(ls, "__i")
        .groupBy(col("__b")).agg(min(col("component")).as("__bc"))
      mB.join(bmin, "__b")
        .select(col("__i"), col("__bc").as("component"), lit(false).as("__isold"))
        .unionByName(ls.select(col("__i"), col("component"), lit(true).as("__isold")))
        .groupBy(col("__i"))
        // min over {bucket minima} ∪ {old} = min over bucket minima (the
        // old label already rode through its buckets); the union exists
        // only to carry __old through the same aggregate
        .agg(min(col("component")).as("component"),
          max(when(col("__isold"), col("component"))).as("__old"))
    }

    var labels = mI.select(col("__i")).distinct()
      .select(col("__i"), col("__i").as("component"))
    var retired: Option[DataFrame] = None
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // THREE waves in the first round (LSH chains observed at pair-graph
      // diameter 5-6 even on small corpora), then ONE per round: labels
      // are monotone non-increasing so extra waves cannot overshoot, the
      // first round does the flooding, and a single quiet wave is a full
      // convergence proof (one unchanged wave ⇒ fixpoint).
      val waves = if (iter == 0) 2 else 0
      val next = materialize(
        waveCarryOld((1 to waves).foldLeft(labels)((ls, _) => wave(ls))))
      converged = next.filter(col("component") =!= col("__old")).isEmpty
      retired.foreach(Bridge.unpersistMaterialized)
      retired = Some(next)
      labels = next.drop("__old")
      iter += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connected components did not converge within $maxIter rounds — " +
        s"a component's pair-graph diameter exceeds maxIter + 2 = ${maxIter + 2} " +
        "hops (each wave floods one doc→bucket→doc hop); raise maxIter")
    Bridge.unpersistMaterialized(mB)
    Bridge.unpersistMaterialized(mI)
    labels.select(col("__i").as(idCol), col("component"))
  }
}
