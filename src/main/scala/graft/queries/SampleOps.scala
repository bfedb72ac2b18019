package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._

/** Deterministic sampling operators — the way a 100 TB pipeline samples:
  * no RNG, no `TABLESAMPLE`. Membership is a pure function of the row key
  * (md5 fold), so a sample is reproducible across runs, engines, partition
  * counts and retries, composes with partition pruning, and a re-run after
  * a node failure draws the identical rows. Both entries verify exactly
  * against DuckDB because md5 is engine-universal.
  */
object SampleOps {

  import QueryUtils.{hex8, hex8Sql}

  /** Key → uniform bucket in [0, mod): integer fold of the first 8 md5 hex
    * chars. The same fold DuckDB replays nibble-wise (see hex8Sql). */
  private def fold(key: Column, mod: Int): Column =
    hex8(key.cast("string")) % mod

  /** sa01 — 10% Bernoulli document sample keyed on doc_id. The filter is a
    * pure row-local predicate: it pushes to the scan, needs no shuffle, and
    * the same doc_id is in or out of the sample forever. */
  private def sa01(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d)
      .filter(fold($"doc_id", 10000) < 1000)
      .select($"doc_id", length($"text").as("n_chars"))
      .orderBy($"doc_id")
  }
  private val sa01Sql =
    s"""SELECT doc_id, len(text) AS n_chars FROM documents
       |WHERE ${hex8Sql("CAST(doc_id AS VARCHAR)")} % 10000 < 1000
       |ORDER BY doc_id""".stripMargin

  /** sa02 — stratified sample audit: per event_type, a 5% hash sample keyed
    * on event_id, reported as totals + sampled counts + realized rate (the
    * bookkeeping a sampling stage emits so downstream weighting is exact). */
  private def sa02(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    events(s, d)
      .withColumn("keep", fold($"event_id", 100) < 5)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_total"),
        sum(when($"keep", 1L).otherwise(0L)).as("n_sampled"))
      .withColumn("rate", $"n_sampled".cast("double") / $"n_total")
      .orderBy($"event_type")
  }
  private val sa02Sql =
    s"""WITH k AS (SELECT event_type,
       |    ${hex8Sql("CAST(event_id AS VARCHAR)")} % 100 < 5 AS keep
       |  FROM events)
       |SELECT event_type, COUNT(*) AS n_total,
       |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
       |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS rate
       |FROM k GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Domain-mix sampling — per-source keep rates steering the corpus
    * toward a target mixture (the data-mixing step of a training
    * pipeline: upweight books, downsample crawl). Rates are integer
    * basis points of 10000 — no floating point anywhere in the
    * membership decision — looked up from a map literal (broadcast
    * semantics; a rates TABLE would broadcast-join identically), with
    * `defaultBps` for sources outside the map. Membership is the same
    * salted md5 fold as sa01: row-local, pushdown-friendly, reproducible
    * across runs/engines/retries, and independent per salt (a different
    * salt draws an independent sample of the same corpus). */
  def domainMix(docs: DataFrame, bpsBySource: Map[String, Int],
      defaultBps: Int, salt: String): DataFrame = {
    val bps = coalesce(element_at(typedLit(bpsBySource), col("source")),
      lit(defaultBps))
    docs.filter(
      hex8(concat_ws(":", lit(salt), col("doc_id").cast("string"))) % 10000 < bps)
  }

  private val sa03Bps = Map(
    "src0" -> 10000, "src1" -> 7500, "src2" -> 5000, "src3" -> 2500, "src4" -> 1000)

  /** sa03 — the domain-mix gate: five pinned sources at descending rates,
    * everything else at 5%. Row-level output so the oracle hash-verifies
    * exact membership, not just realized counts. */
  private def sa03(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    domainMix(documents(s, d), sa03Bps, defaultBps = 500, salt = "mix")
      .select($"doc_id", $"source")
      .orderBy($"doc_id")
  }
  private val sa03Sql = {
    val rateCase = sa03Bps.toSeq.sortBy(_._1)
      .map { case (src, bps) => s"WHEN '$src' THEN $bps" }
      .mkString("CASE source ", " ", " ELSE 500 END")
    s"""SELECT doc_id, source FROM documents
       |WHERE ${hex8Sql("'mix:' || CAST(doc_id AS VARCHAR)")} % 10000 < $rateCase
       |ORDER BY doc_id""".stripMargin
  }

  /** sa04 — deterministic train/val/test split: one salted hash fold
    * partitions the corpus 98/1/1 with disjointness and full coverage BY
    * CONSTRUCTION (every doc lands in exactly one bucket range of the
    * same fold — there is no second hash to disagree with the first, the
    * classic split-leak bug). Row-local, pushes to the scan, stable
    * forever for a given doc_id; the salt is the split's version handle
    * (re-salting is a new split, never a partial reshuffle). */
  private def sa04(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val b = fold(concat(lit("split:"), $"doc_id".cast("string")), 10000)
    graft.Tables.documents(s, d).select($"doc_id",
        when(b < 9800, "train").when(b < 9900, "val").otherwise("test")
          .as("split"))
      .orderBy($"doc_id")
  }
  private val sa04Sql = {
    val b = hex8Sql("'split:' || CAST(doc_id AS VARCHAR)")
    s"""SELECT doc_id,
       |  CASE WHEN $b % 10000 < 9800 THEN 'train'
       |       WHEN $b % 10000 < 9900 THEN 'val' ELSE 'test' END AS split
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** sa05 — temperature resampling: sa03 with the rates computed FROM
    * the data instead of pinned — the standard training-mix move of
    * flattening a skewed domain distribution toward uniform (big crawl
    * sources downsampled hardest, small curated sources kept whole).
    * Per-source rates interpolate halfway between the natural mix
    * (everything kept) and the fully-flat mix (every source kept at the
    * smallest source's count): `bps = (50·10000 + 50·flat) div 100`
    * where `flat = (10000·n_min) div n` — ALL integer arithmetic (`div`,
    * never `/`: exact on both engines at any count magnitude, where a
    * double quotient could round a boundary doc in or out at 100 TB
    * counts; a production α-temperature `pow(n, α−1)` rule swaps in as
    * data the way sa03's map would). Plan: one tiny per-source count agg
    * broadcast back onto the scan — membership stays the row-local
    * salted fold, so the corpus is read ONCE and never shuffled, and
    * the emitted `bps` lets the oracle verify the rate computation
    * itself, not just realized membership. */
  /** The rate computation and the membership pass, extracted as the TWO
    * kernels sa05, pp16 and the continuous maintainer
    * ([[graft.streaming.Streams.mixRatesSnapshot]]) all share — one
    * definition, so the incremental paths can never drift from the batch
    * gate's arithmetic. */
  private[graft] def mixRates(counts: DataFrame): DataFrame =
    counts.crossJoin(broadcast(counts.agg(min(col("n")).as("n_min"))))
      .withColumn("flat", expr("(10000 * n_min) div n"))
      .withColumn("bps", expr("(50 * 10000 + 50 * flat) div 100"))
      .select(col("source"), col("bps"))
  private[graft] def mixMembership(docs: DataFrame, rates: DataFrame): DataFrame =
    docs.join(broadcast(rates), Seq("source"))
      .filter(hex8(concat_ws(":", lit("temp"), col("doc_id").cast("string"))) % 10000 < col("bps"))
      .select(col("doc_id"), col("source"), col("bps"))
      .orderBy(col("doc_id"))

  private def sa05(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = documents(s, d)
    mixMembership(docs,
      mixRates(docs.groupBy($"source").agg(count(lit(1)).as("n"))))
  }
  private val sa05Sql =
    s"""WITH cnt AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
       |r AS (SELECT source,
       |    (50 * 10000 + 50 * ((10000 * (SELECT MIN(n) FROM cnt)) // n)) // 100 AS bps
       |  FROM cnt)
       |SELECT d.doc_id, d.source, r.bps
       |FROM documents d JOIN r ON d.source = r.source
       |WHERE ${hex8Sql("'temp:' || CAST(d.doc_id AS VARCHAR)")} % 10000 < r.bps
       |ORDER BY d.doc_id""".stripMargin

  /** pp16 — INCREMENTAL mix maintenance, sa05's incremental twin (the
    * sampling-side member of the pp07/pp13 additive-counts family): the
    * per-source counts the rates derive from are a STANDING table, and a
    * batch advances it with one batch-sized count pass merged additively
    * (counts of a corpus = sum of counts of its doc-disjoint batches —
    * recounting the corpus per increment is the anti-pattern; the rates
    * must track a GROWING corpus, which is why they are maintained state
    * and not a constant). Membership over the full corpus under the
    * maintained rates must equal sa05 — the oracle is sa05's verbatim.
    * [[graft.streaming.StateFamily.Mix]] is the continuous
    * loop. */
  private def pp16(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = documents(s, d)
    val isNew = fold(concat_ws(":", lit("mixinc"), $"doc_id".cast("string")), 5) === 0
    // the standing counts table (persisted in production — pp04's pattern)
    val standing = docs.filter(!isNew)
      .groupBy($"source").agg(count(lit(1)).as("n")).localCheckpoint(true)
    // the advance: count ONLY the increment, merge additively
    val merged = standing
      .unionByName(docs.filter(isNew).groupBy($"source").agg(count(lit(1)).as("n")))
      .groupBy($"source").agg(sum($"n").as("n"))
    mixMembership(docs, mixRates(merged))
  }

  /** Mix recipe WITH epochs — the general form of [[domainMix]] where a
    * source's rate may exceed 1.0: `bps` is basis points of 10000 per
    * EPOCH, so 32500 means "3 whole copies + a 25% chance of a 4th"
    * (training-data recipes are written exactly this way: books 2.5
    * epochs, crawl 0.5). Whole epochs are unconditional repeats; the
    * fractional remainder reuses the salted row-local fold, so the
    * SAME docs carry the extra epoch on every run/engine/retry. The
    * repeat is `explode(sequence(1, n_rep))` — row-local, no shuffle,
    * bounded by the recipe's max epoch count; emitting an explicit
    * `epoch` ordinal (not n_rep copies of an identical row) is what
    * lets a downstream shard shuffle (pp08) place the copies
    * independently, and the oracle verify the exact repeat count per
    * doc. Rows with n_rep = 0 are filtered BEFORE the sequence —
    * Spark's `sequence(1, 0)` defaults to step −1 and would emit
    * [1, 0], not empty. */
  def epochMix(docs: DataFrame, bpsBySource: Map[String, Int],
      defaultBps: Int, salt: String): DataFrame = {
    val bps = coalesce(element_at(typedLit(bpsBySource), col("source")),
      lit(defaultBps))
    docs.withColumn("bps", bps.cast("long"))
      .withColumn("f",
        hex8(concat_ws(":", lit(salt), col("doc_id").cast("string"))) % 10000)
      .withColumn("n_rep", expr("bps div 10000") +
        when(col("f") < col("bps") % 10000, 1L).otherwise(0L))
      .filter(col("n_rep") > 0)
      .select(col("doc_id"), col("source"), col("bps"),
        explode(sequence(lit(1L), col("n_rep"))).as("epoch"))
  }

  private val sa06Bps = Map(
    "src0" -> 32500, "src1" -> 25000, "src2" -> 17500, "src3" -> 12500,
    "src4" -> 10000)

  /** sa06 — the epoch-upsampling gate: five pinned sources spanning the
    * three regimes (multi-epoch repeat, exactly-once, fractional-only via
    * the 5000-bps default), row-level (doc_id, epoch) output so the
    * oracle verifies every repeat decision, not realized counts. */
  private def sa06(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    epochMix(documents(s, d), sa06Bps, defaultBps = 5000, salt = "epoch")
      .orderBy($"doc_id", $"epoch")
  }
  private val sa06Sql = {
    val rateCase = sa06Bps.toSeq.sortBy(_._1)
      .map { case (src, bps) => s"WHEN '$src' THEN $bps" }
      .mkString("CASE source ", " ", " ELSE 5000 END")
    s"""WITH b AS (SELECT doc_id, source, $rateCase AS bps,
       |    ${hex8Sql("'epoch:' || CAST(doc_id AS VARCHAR)")} % 10000 AS f
       |  FROM documents),
       |x AS (SELECT doc_id, source, CAST(bps AS BIGINT) AS bps,
       |    bps // 10000 + CASE WHEN f < bps % 10000 THEN 1 ELSE 0 END AS n_rep
       |  FROM b)
       |SELECT * FROM (
       |  SELECT doc_id, source, bps,
       |    UNNEST(generate_series(1, CAST(n_rep AS BIGINT))) AS epoch
       |  FROM x WHERE n_rep > 0)
       |ORDER BY doc_id, epoch""".stripMargin
  }

  /** sa07 — exact-SIZE uniform sample: the fixed-count counterpart of
    * sa01's fixed-rate draw — "exactly k documents, uniformly,
    * deterministically" (eval subsets, human-review draws, seed
    * corpora, anywhere a budget is a count rather than a rate). Rank
    * every doc by its salted md5 fold (uniform on the key space,
    * reproducible across runs/engines/retries) with doc_id breaking
    * fold ties so the order is total, and keep the k smallest: the plan
    * is TakeOrderedAndProject — each partition keeps a bounded k-buffer
    * combined map-side, so no global sort of the corpus materializes
    * anywhere (q09's pinned shape). The fold is emitted so the oracle
    * verifies the draw itself, not just the membership count. */
  private def sa07(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d)
      .select($"doc_id", $"source",
        hex8(concat(lit("take:"), $"doc_id".cast("string"))).as("fold"))
      .orderBy($"fold", $"doc_id")
      .limit(100)
  }
  private val sa07Sql =
    s"""SELECT doc_id, source,
       |    ${hex8Sql("'take:' || CAST(doc_id AS VARCHAR)")} AS fold
       |FROM documents
       |ORDER BY fold, doc_id
       |LIMIT 100""".stripMargin

  /** sa08 — exact-size STRATIFIED sample: "exactly K docs total,
    * allocated across the language strata in proportion to their sizes"
    * — the draw an eval-set or annotation-budget stage needs when both
    * the TOTAL (a cost budget) and the per-stratum representativeness
    * matter. sa02 audits a fixed-RATE stratified draw; sa07 is exact-K
    * but unstratified; this is the missing corner. Allocation is
    * largest-remainder (Hamilton) apportionment in exact integers:
    * quota_s = ⌊K·n_s/N⌋ plus one of the K − Σ⌊·⌋ leftover units to the
    * strata with the largest remainder (K·n_s mod N), ties to the
    * lexicographically-first language — computed from the strata-sized
    * counts table (driver-sized, like a centroid table; the collect is
    * |strata| rows however big the corpus is). The draw itself is
    * per-stratum smallest-quota_s salted folds via the bounded-buffer
    * [[graft.operators.GroupedTopK]] at k = max quota (≤ K): each
    * partition keeps at most that many rows PER STRATUM map-side, so no
    * corpus sort and no per-stratum window over the full corpus
    * materializes anywhere. The fold and quota are emitted so the
    * oracle verifies the apportionment and the draw, not just counts. */
  private val sa08K = 100L
  private def sa08(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // stratify over KNOWN languages only, explicitly on both engines — a
    // NULL stratum would hit three divergent corners at once (SQL GROUP
    // BY keeps NULL, JOIN USING drops it, engines disagree on NULL sort
    // order in the remainder tie-break), so it is excluded by contract
    val docs = documents(s, d).filter($"lang".isNotNull)
    val cs = docs.groupBy($"lang").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    if (cs.isEmpty)
      return docs.select($"lang", $"doc_id", lit(1).as("rank"),
        lit(0L).as("fold"), lit(0L).as("quota")).limit(0)
    val total = cs.map(_._2).sum
    val base = cs.map { case (l, n) => (l, sa08K * n / total, sa08K * n % total) }
    val extra = (sa08K - base.map(_._2).sum).toInt
    val bump = base.sortBy { case (l, _, rem) => (-rem, l) }
      .take(extra).map(_._1).toSet
    val quota = base.map { case (l, fl, _) =>
      l -> (fl + (if (bump(l)) 1L else 0L)) }.toMap
    val maxQ = math.max(1L, quota.values.max).toInt
    graft.operators.GroupedTopK.topK(
        docs.select($"lang",
          (-hex8(concat(lit("strat:"), $"doc_id".cast("string"))))
            .cast("double").as("nf"),
          $"doc_id"),
        "lang", "nf", "doc_id", maxQ)
      .withColumn("quota", element_at(typedLit(quota), $"lang"))
      .filter($"rank" <= $"quota")
      .select($"lang", $"id".as("doc_id"), $"rank",
        (-$"v").cast("long").as("fold"), $"quota")
      .orderBy($"lang", $"rank")
  }
  private val sa08Sql =
    s"""WITH c AS (SELECT lang, COUNT(*) AS n FROM documents
       |           WHERE lang IS NOT NULL GROUP BY lang),
       |t AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM c),
       |q0 AS (SELECT lang, ($sa08K * n) // tot AS fl, ($sa08K * n) % tot AS rem
       |       FROM c CROSS JOIN t),
       |x AS (SELECT CAST($sa08K - SUM(fl) AS BIGINT) AS extra FROM q0),
       |qu AS (SELECT lang, fl + (CASE WHEN ROW_NUMBER() OVER
       |      (ORDER BY rem DESC, lang) <= extra THEN 1 ELSE 0 END) AS quota
       |    FROM q0 CROSS JOIN x),
       |f AS (SELECT lang, doc_id,
       |    ${hex8Sql("'strat:' || CAST(doc_id AS VARCHAR)")} AS fold
       |  FROM documents WHERE lang IS NOT NULL),
       |r AS (SELECT lang, doc_id, fold, CAST(ROW_NUMBER() OVER (
       |    PARTITION BY lang ORDER BY fold, doc_id) AS INT) AS rank FROM f)
       |SELECT r.lang, r.doc_id, r.rank, r.fold, qu.quota
       |FROM r JOIN qu USING (lang) WHERE r.rank <= qu.quota
       |ORDER BY lang, rank""".stripMargin

  /** sa09 — exact-size WEIGHTED sample without replacement
    * (quality/length-weighted data selection: "pick exactly K docs,
    * longer/better docs proportionally more often" — the draw behind
    * importance-weighted curation budgets). Exact Efraimidis–Spirakis
    * semantics with zero floating point: A-ES ranks items by U^(1/w),
    * and U^(1/w) is distributed as the MAX of w iid uniforms — so each
    * doc draws w integer tickets (independent salted md5 folds, the
    * engine-universal uniform) and its key is the largest; the K largest
    * keys are exactly an A-ES weighted draw without replacement. The
    * ticket fan-out is ROW-LOCAL (a `transform` over `sequence(1, w)`,
    * never an explode — nothing corpus×w ever hits an exchange) and the
    * selection is (key DESC, doc_id) + limit ⇒ TakeOrderedAndProject,
    * sa07's bounded k-buffer shape: no corpus sort at any scale. Weights
    * are small integers derived from doc length (1 + ⌊chars/100⌋ capped
    * at 8); `coalesce` keeps NULL-text docs at weight 1 on both engines.
    * The weight and winning ticket are emitted so the oracle verifies
    * the draw mechanics, not just membership. */
  private def sa09(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // `div` (integer), not `/` (Spark's Column./ is double division)
    val w = expr("1L + least(coalesce(length(text), 0L) div 100L, 7L)").as("w")
    documents(s, d)
      .select($"doc_id", w)
      .withColumn("key", array_max(transform(sequence(lit(1L), $"w"), tk =>
        hex8(concat(lit("wt:"), $"doc_id".cast("string"), lit(":"),
          tk.cast("string"))))))
      .orderBy($"key".desc, $"doc_id")
      .limit(100)
  }
  private val sa09Sql =
    s"""SELECT doc_id, w,
       |  list_max([${hex8Sql("'wt:' || CAST(doc_id AS VARCHAR) || ':' || CAST(tk AS VARCHAR)")}
       |            for tk in range(1, CAST(w AS INT) + 1)]) AS key
       |FROM (SELECT doc_id,
       |        1 + least(coalesce(len(text), 0) // 100, 7) AS w
       |      FROM documents)
       |ORDER BY key DESC, doc_id
       |LIMIT 100""".stripMargin

  /** sa10 — TOKEN-BUDGET mix: each source contributes documents up to a
    * fixed token budget — the unit data recipes are actually written in
    * ("300 B tokens of crawl, 30 B of books"), where sa03/sa05 steer
    * RATES. Deterministic greedy draw: docs ordered per source by a
    * salted hash (the same engine-universal fold as sa01 — re-runs,
    * retries and engines agree on the order), kept while the source's
    * running token total stays within budget; the first doc that would
    * cross is dropped along with everything after it, so the output is a
    * hash-random prefix whose membership is a pure function of the
    * corpus. The running total is
    * [[graft.operators.PrefixSum.runningTotalBy]] — the two-level
    * group-aware scan — NOT `SUM OVER (PARTITION BY source)`: a naive
    * per-source window sorts each source in one task, and at 100 TB the
    * biggest source (a third of any crawl) is a straggler no cluster
    * size fixes; the two-level scan fragments every source across
    * partitions and reduces only fragment summaries. Emitting `running`
    * makes the oracle verify the accounting itself, not just
    * membership. */
  private val sa10Budget = 600L
  private def sa10(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val t = documents(s, d).select($"doc_id", $"source",
      size(graft.functions.Text.tokens($"text")).cast("long").as("n_tokens"),
      hex8(concat(lit("budget:"), $"doc_id".cast("string"))).as("key"))
    graft.operators.PrefixSum
      .runningTotalBy(t, "source", Seq("key", "doc_id"), "n_tokens", "running")
      .filter($"running" <= sa10Budget)
      .select($"doc_id", $"source", $"n_tokens", $"running")
      .orderBy($"doc_id")
  }
  private val sa10Sql =
    s"""WITH t AS (SELECT doc_id, source,
       |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens,
       |    ${hex8Sql("'budget:' || CAST(doc_id AS VARCHAR)")} AS key
       |  FROM documents),
       |r AS (SELECT doc_id, source, n_tokens,
       |    CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY key, doc_id) AS BIGINT) AS running
       |  FROM t)
       |SELECT doc_id, source, n_tokens, running FROM r
       |WHERE running <= $sa10Budget ORDER BY doc_id""".stripMargin

  /** The (doc_id, source, n_tokens, key) frame sa10 and pp22 order and
    * budget — one definition, the gates cannot drift. */
  private[graft] def budgetFrame(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"),
      size(graft.functions.Text.tokens(col("text"))).cast("long").as("n_tokens"),
      hex8(concat(lit("budget:"), col("doc_id").cast("string"))).as("key"))

  /** Per-source budget state over a frame: the KEPT prefix (with running
    * totals) and the CUT MARKER — the (key, doc_id) order position of
    * the first doc the budget dropped (absent if nothing dropped).
    * The cut marker is what makes the state INCREMENTALLY maintainable:
    * a later arrival sorting past the cut must drop outright, because
    * the dropped docs between the cut and it still count toward its
    * running total but are not in the kept state — without the marker,
    * an advance over (kept ∪ batch) would under-count and wrongly admit
    * it. */
  /** Both halves of the budget state from ONE ranked pass (r19, guide
    * §1.2 step 1): kept and cut are complementary filters over the same
    * running total, and [[graft.operators.PrefixSum.runningTotalBy]]
    * eagerly checkpoints its range-partitioned frame — so one call here
    * shares that checkpoint across both branches, where the previous
    * separate budgetKept + budgetCut calls each ran their own full
    * range-exchange + checkpoint + window machinery over the same
    * frame. */
  private[graft] def budgetState(frame: DataFrame,
      budget: Long): (DataFrame, DataFrame) = {
    val re = graft.operators.PrefixSum
      .runningTotalBy(frame, "source", Seq("key", "doc_id"), "n_tokens", "running")
    (re.filter(col("running") <= budget),
      re.filter(col("running") > budget)
        .groupBy(col("source")).agg(min(struct(col("key"), col("doc_id"))).as("c"))
        .select(col("source"), col("c.key").as("cut_key"), col("c.doc_id").as("cut_doc")))
  }

  private[graft] def budgetKept(frame: DataFrame, budget: Long): DataFrame =
    budgetState(frame, budget)._1

  private[graft] def budgetCut(frame: DataFrame, budget: Long): DataFrame =
    budgetState(frame, budget)._2

  /** The token-budget ADVANCE — sa10's incremental kernel (pp22's gate
    * and [[graft.streaming.Streams.maintainBudgetState]]'s loop): given
    * the standing kept/cut state and a batch frame, produce the new
    * state touching O(kept_touched + batch) rows — never the corpus.
    * Soundness: (a) a doc the budget ever dropped can never re-enter
    * (arrivals only grow running totals), so the new kept set ⊆ old
    * kept ∪ batch; (b) a batch doc sorting at or past the cut marker
    * has running ≥ the marker's (> budget) and drops outright; (c) for
    * every remaining candidate, ALL of its in-order predecessors are
    * candidates too, so the prefix sum over candidates IS its true
    * corpus running total; (d) the new cut is the in-order minimum of
    * the old marker and the candidates' first crossing. Untouched
    * sources carry their state rows verbatim. */
  private[graft] def budgetAdvance(kept: DataFrame, cut: DataFrame,
      batch: DataFrame, budget: Long): (DataFrame, DataFrame) = {
    val touched = batch.select(col("source")).distinct().localCheckpoint(true)
    val eligible = batch.join(cut, Seq("source"), "left")
      .filter(col("cut_key").isNull ||
        col("key") < col("cut_key") ||
        (col("key") === col("cut_key") && col("doc_id") < col("cut_doc")))
      .select(col("doc_id"), col("source"), col("n_tokens"), col("key"))
    val keptTouched = kept.join(touched, Seq("source"), "left_semi")
      .select(col("doc_id"), col("source"), col("n_tokens"), col("key"))
    val re = graft.operators.PrefixSum.runningTotalBy(
      keptTouched.unionByName(eligible), "source", Seq("key", "doc_id"),
      "n_tokens", "running")
    val newKeptTouched = re.filter(col("running") <= budget)
    val candCut = re.filter(col("running") > budget)
      .groupBy(col("source")).agg(min(struct(col("key"), col("doc_id"))).as("c"))
      .select(col("source"), col("c.key").as("cut_key"), col("c.doc_id").as("cut_doc"))
    val newCutTouched = cut.join(touched, Seq("source"), "left_semi")
      .unionByName(candCut)
      .groupBy(col("source"))
      .agg(min(struct(col("cut_key"), col("cut_doc"))).as("c"))
      .select(col("source"), col("c.cut_key").as("cut_key"),
        col("c.cut_doc").as("cut_doc"))
    (newKeptTouched.unionByName(kept.join(touched, Seq("source"), "left_anti")),
      newCutTouched.unionByName(cut.join(touched, Seq("source"), "left_anti")))
  }

  /** pp22 — INCREMENTAL token-budget mix, sa10's twin (the pp16 family
    * member for budget-typed recipes): the standing state is the kept
    * prefix + cut marker per source; a batch advances it via
    * [[budgetAdvance]] without rescanning the corpus or the dropped
    * docs. Result must equal sa10 over the full corpus — the oracle is
    * sa10's, verbatim. */
  private def pp22(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val frame = budgetFrame(documents(s, d))
    val isNew = fold(concat_ws(":", lit("bmix"), $"doc_id".cast("string")), 5) === 0
    // ONE ranked pass builds both standing halves (budgetState shares
    // PrefixSum's internal checkpoint across them) — previously
    // budgetKept + budgetCut each ran their own range-exchange +
    // checkpoint + window over the same frame, which also forced a pin
    // of the input. The halves keep their own pins: budgetAdvance
    // consumes each twice, and re-deriving them per consumer measured
    // SLOWER than the two checkpoint jobs (2.09 vs 1.51 s subset A/B —
    // the same added-barrier-loses lesson as pp15's remap note).
    val (kept0, cut0) = budgetState(frame.filter(!isNew), sa10Budget)
    val kept = kept0.localCheckpoint(true)
    val cut = cut0.localCheckpoint(true)
    val (kept2, _) = budgetAdvance(kept, cut, frame.filter(isNew), sa10Budget)
    kept2.select($"doc_id", $"source", $"n_tokens", $"running")
      .orderBy($"doc_id")
  }

  val queries: Seq[Q] = Seq(
    Q("sa01_hash_sample", "deterministic 10% Bernoulli sample by doc_id", sa01, Some(sa01Sql)),
    Q("sa02_stratified_sample", "per-stratum 5% hash sample audit", sa02, Some(sa02Sql)),
    Q("sa03_domain_mix", "per-source basis-point mix sampling (data mixing)", sa03, Some(sa03Sql)),
    Q("sa04_split", "deterministic 98/1/1 train/val/test split, one fold (disjoint + covering by construction)", sa04, Some(sa04Sql)),
    Q("sa05_temperature_resample", "temperature resampling: per-source rates computed from counts, integer-exact natural/uniform interpolation", sa05, Some(sa05Sql)),
    Q("pp16_incremental_mix", "incremental mix maintenance: standing per-source counts advanced additively per batch, membership == sa05", pp16, Some(sa05Sql)),
    Q("sa06_epoch_upsample", "mix recipe with epochs: whole-epoch repeats + salted fractional remainder, row-level (doc_id, epoch) output", sa06, Some(sa06Sql)),
    Q("sa07_exact_size_sample", "exact-k uniform sample: smallest k salted folds via TakeOrderedAndProject (no corpus sort)", sa07, Some(sa07Sql)),
    Q("sa08_stratified_exact", "exact-size stratified sample: largest-remainder integer apportionment across language strata + per-stratum bounded top-k draw", sa08, Some(sa08Sql)),
    Q("sa09_weighted_sample", "exact-size weighted sample without replacement: integer Efraimidis-Spirakis (max of w salted tickets), row-local fan-out, bounded top-k draw", sa09, Some(sa09Sql)),
    Q("sa10_token_budget_mix", "token-budget mix: per-source hash-ordered greedy prefix under a fixed token budget, two-level grouped prefix sum (no per-source single-task sort)", sa10, Some(sa10Sql)),
    Q("pp22_incremental_budget", "incremental token-budget mix: kept-prefix + cut-marker standing state advanced O(kept + batch), membership == sa10", pp22, Some(sa10Sql)),
  )
}
