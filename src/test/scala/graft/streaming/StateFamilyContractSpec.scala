package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{OverlappedTests, SparkSpec}
import graft.queries.VectorOps

/** The [[StateFamily]] contract, checked once over every registered
  * store group on its folded state ([[Streams.foldState]], the input of
  * every family read view) and its store rows: (1) redelivering an
  * ingested batch is a no-op, (2) a crash inside the advance — before
  * any delta landed, and after every delta but before the store —
  * converges on replay, (3) a compaction run while that batch is pending
  * changes nothing — the state equals a from-scratch build over every
  * arrival — (4) forget equals a from-scratch build over the survivors,
  * with every forgotten id tombstoned in the store, and (5) forgetting
  * again, re-ingesting the forgotten ids (a never-seen one included) and
  * compacting change nothing, and (6) a crash after the commit point of a
  * compaction's and a forget's publish is finished by the next advance:
  * the state equals the from-scratch builds of (2) and (4). Families
  * that share a store run in groups
  * through the same maintainState/compactState/forgetState calls, the
  * multi-family shape a deployment runs; the groups run overlapped
  * ([[graft.OverlappedTests]]). The family specs pin each read view
  * against its catalog oracle. */
class StateFamilyContractSpec extends AnyFunSuite with SparkSpec
    with OverlappedTests {

  /** A store group over the doc store: its families and their table
    * names. */
  private val groups = Seq(
    "text store: vocab, LM, CMS cells" -> Seq(StateFamily.Vocab -> "vocab",
      StateFamily.Lm -> "lm", StateFamily.CmsCells -> "cells"),
    "text store: exact dedup, chunk" -> Seq(
      StateFamily.ExactDedup -> "xstats", StateFamily.Chunk -> "chunks"),
    "source store: mix" -> Seq(StateFamily.Mix -> "counts"),
    "source+text store: hll" -> Seq(StateFamily.Hll -> "regs"),
    "source+v store: quantile" -> Seq(StateFamily.Quantile -> "qs"),
    "text store: tf, dl, tok" -> Seq(StateFamily.Tf -> "tf",
      StateFamily.Dl -> "dl", StateFamily.TokTf -> "tok"),
    "text store: tstat, m, labels" -> Seq(StateFamily.Tstat -> "tstat",
      StateFamily.M -> "m", StateFamily.Labels -> "labels"))

  /** A vector store group under the corpus' quantizer `cents` and PQ/SQ
    * parameters. */
  private val vectorGroups: Seq[(String,
      (DataFrame, VectorOps.Pq, (Array[Long], Array[Long])) =>
        (StateFamily.Store, Seq[(StateFamily, String)]))] = Seq(
    "postings store: IVF sums, SemDedup drops" -> ((c, _, _) => (StateFamily.postings(c),
      Seq(StateFamily.IvfSums -> "sums", StateFamily.SemDedupDrops -> "drops"))),
    "postings store: kNN graph" -> ((c, _, _) => (StateFamily.postings(c),
      Seq(StateFamily.KnnGraph -> "graph"))),
    "PQ codes store" -> ((c, pq, _) => (StateFamily.pqCodes(c, pq), Nil)),
    "SQ codes store" -> ((_, _, sq) => (StateFamily.sqCodes(sq._1, sq._2), Nil)))

  /** 40 generated docs (5 sources, a few with no measurement) plus
    * clones of the 4 lowest ids arriving in the later batch (cross-batch
    * duplicate groups whose keepers the forget must repair), and one
    * never-ingested ghost row. */
  private val corpus = {
    val words = Vector("spark", "table", "merge", "query", "window", "stream",
      "vector", "hash", "scan", "join", "sort", "batch", "guard", "delta")
    val base = (1L to 40L).map { id =>
      // shared words plus one token of the doc's own, so every forget
      // moves some source's distinct-token set
      val text = ((0 until 4 + (id % 9).toInt)
        .map(i => words(((id * 7 + i * i * 3) % words.size).toInt)) :+ s"w$id")
        .mkString(" ")
      (id, s"src${id % 5}", text, if (id % 11 == 0) None else Some(id * 13 % 97))
    }
    val clones = base.take(4).map { case (id, s, t, v) => (id + 100, s, t, v) }
    (base, clones, (1000L, "src0", "ghost text never counted", Option(7L)))
  }

  /** The vector twin of [[corpus]] over the same ids: id i lies near
    * prototype i mod 7 (16 dims, two 8-wide PQ subspaces), so the
    * forgotten multiples of 7 share one cell and the other cells stay
    * untouched; id 40 is a zero-norm vector, the clones repeat their
    * originals' embeddings, and the ghost never arrives. */
  private def vectors: Seq[(Long, Seq[Float])] = {
    def near(p: Long, id: Long) = (0 until 16).map { d =>
      (if (d / 2 == p) 1.0f else 0.05f) + ((id * 31 + d * 17) % 11 - 5) * 0.01f }
    val base = (1L to 40L).map(id =>
      id -> (if (id == 40L) Seq.fill(16)(0.0f) else near(id % 7, id)))
    base ++ base.take(4).map { case (id, e) => (id + 100, e) } :+
      (1000L -> near(3L, 1000L))
  }

  for ((name, fams) <- groups) test(s"$name: redelivery no-op; crash-replay converges; compaction invariant; forget == survivors build; forget idempotent") {
    import spark.implicits._
    val (base, clones, ghost) = corpus
    val store = fams.head._1.store
    contract(store, fams, (base ++ clones :+ ghost).toDF("doc_id", "source", "text", "v")
      .select(("doc_id" +: store.arrives.map(_._1)).map(col): _*).localCheckpoint(true))
  }

  test("ids store: score: redelivery no-op; crash-replay converges; compaction invariant; forget == survivors build; forget idempotent") {
    import spark.implicits._
    val (base, clones, ghost) = corpus
    val docs = (base ++ clones :+ ghost).toDF("doc_id", "source", "text", "v")
      .select($"doc_id", $"source", $"text").localCheckpoint(true)
    val ref = Files.createTempDirectory("contract-ref").toString + "/ref"
    Streams.buildRefState(docs.withColumn("lang", lit("en")), ref)
    contract(StateFamily.Score.store, Seq(StateFamily.score(ref) -> "scores"), docs)
  }

  for ((name, group) <- vectorGroups) test(s"$name: redelivery no-op; crash-replay converges; compaction invariant; forget == survivors build; forget idempotent") {
    import spark.implicits._
    val vecs = vectors.toDF("vec_id", "embedding").localCheckpoint(true)
    val protos = (0L until 7L).map(p => p -> vectors.find(_._1 % 7 == p).get._2)
      .toDF("vec_id", "embedding")
    val cents = VectorOps.ivfCentroids(VectorOps.normed(protos), 7).localCheckpoint(true)
    val normed = VectorOps.normed(vecs)
    val (store, fams) = group(cents,
      VectorOps.pqOf(normed.orderBy($"vec_id").limit(16).collect().toIndexedSeq),
      VectorOps.sqTrain(normed))
    contract(store, fams, vecs)
  }

  /** Run the five checks on `fams` over `store`; `arrivals` holds one row
    * per id of [[corpus]] — the store key plus its arriving columns. */
  private def contract(store: StateFamily.Store, fams: Seq[(StateFamily, String)],
      arrivals: DataFrame): Unit = {
    val (base, clones, ghost) = corpus
    val k = store.key
    val ids = (base ++ clones).map(_._1)
    val (b0, b1) = (base.take(25).map(_._1), base.drop(25).map(_._1) ++ clones.map(_._1))
    // keepers of two clone groups, every 7th id, and the ghost
    val forgot = (base.take(2).map(_._1) ++ ids.filter(_ % 7 == 0) :+ ghost._1).distinct
    def rows(ids: Seq[Long]) = arrivals.filter(col(k).isin(ids: _*))
    def newRoot(tag: String): String => String = {
      val r = Files.createTempDirectory(s"contract-$tag").toString
      t => s"$r/$t"
    }
    def tables(t: String => String) = fams.map { case (f, n) => f -> t(n) }
    def ingest(t: String => String, ids: Seq[Long]): Unit =
      Streams.maintainState(rows(ids), store, t("store"), tables(t): _*)
    def compact(t: String => String): Unit =
      if (fams.nonEmpty) Streams.compactState(spark, t("store"), tables(t): _*)
    def forget(t: String => String): Unit = Streams.forgetState(spark,
      spark.createDataFrame(forgot.map(Tuple1(_))).toDF(k), store, t("store"), tables(t): _*)
    // the state: each family's fold and the store's rows outside `drop`
    // (the batch key is a replay tag: a from-scratch build keys its one
    // batch differently)
    def folded(t: String => String, drop: Seq[Long] = Nil): Seq[Seq[String]] =
      (fams.map { case (f, n) => Streams.foldState(spark, f, t(n)).drop("batch_key") } :+
        spark.read.parquet(t("store")).filter(!col(k).isin(drop: _*)))
        .map(_.collect().map(_.toString).sorted.toSeq)
    def files(t: String => String) =
      ("store" +: fams.map(_._2)).map(n => graft.SparkSpec.dataFiles(t(n)))
    def check(got: Seq[Seq[String]], want: Seq[Seq[String]], what: String): Unit =
      (fams.map(_._2) :+ "store").zip(got.zip(want)).foreach { case (n, (g, w)) =>
        assert(g == w, s"$n: $what") }

    // (2) two crashes inside b1's advance, each a family that fails in
    // its append: the first before any delta (nothing may land), the
    // second after every delta but before the store; (3) a compaction
    // runs while b1 is pending; then b1 redelivers
    val t = newRoot("a")
    ingest(t, b0)
    for ((crashed, i) <- Seq(
        (Crash(store, "injected crash") -> t("crash0")) +: tables(t),
        tables(t) :+ (Crash(store, "injected crash") -> t("crash1"))).zipWithIndex) {
      val err = intercept[Exception] {
        Streams.maintainState(rows(b1), store, t("store"), crashed: _*)
      }
      assert(Crash.carries(err, "injected crash"), s"crash $i: ${err.getMessage}")
    }
    compact(t)
    ingest(t, b1)
    // (1) redelivery of an ingested batch writes nothing
    val f0 = files(t)
    ingest(t, b1)
    assert(files(t) == f0, "redelivery wrote to a standing table")
    val all = newRoot("b")
    ingest(all, ids)
    val s0 = folded(all)
    (fams.map(_._2) :+ "store").zip(s0).foreach { case (n, s) =>
      assert(s.nonEmpty, s"$n: empty") }
    check(folded(t), s0, "crash replay across a compaction != from-scratch build")

    // (4) forget == a from-scratch build over the survivors; a bucketed
    // table's buckets that hold no forgotten row keep their files
    def bucketFiles(n: String, b: String) = new java.io.File(t(n)).listFiles()
      .filter(_.getName.startsWith(s"$b=")).map(d => d.getName ->
        d.listFiles().map(f => (f.getName, f.lastModified())).toSet).toMap
    val bucketed = fams.flatMap { case (f, n) => f.bucket.map(b => (n, b.name)) }
    val filesBefore = bucketed.map { case (n, b) => n -> bucketFiles(n, b) }.toMap
    val holding = bucketed.map { case (n, b) =>
      val tb = spark.read.parquet(t(n))
      val id = Seq(k, "query_id", "neighbor_id").filter(tb.columns.contains)
        .map(col(_).isin(forgot: _*)).reduce(_ || _)
      n -> tb.filter(id).select(col(b).cast("string"))
        .distinct().collect().map(r => s"$b=${r.getString(0)}").toSet }.toMap
    forget(t)
    bucketed.foreach { case (n, b) =>
      val untouched = filesBefore(n).keySet -- holding(n)
      assert(untouched.nonEmpty, s"$n: every bucket holds a forgotten row — pin vacuous")
      untouched.foreach { d => assert(bucketFiles(n, b).get(d) == filesBefore(n).get(d),
        s"$n: bucket $d holds no forgotten row but was rewritten") }
    }
    val w = newRoot("c")
    ingest(w, ids.filterNot(forgot.toSet))
    val s1 = folded(w)
    check(folded(t, forgot), s1, "forget != from-scratch build over the survivors")
    assert(s1 != s0, "forget was vacuous")
    def tombstones() = spark.read.parquet(t("store")).filter(col(k).isin(forgot: _*))
    assert(tombstones().count() == forgot.size &&
      store.live.forall(l => tombstones().filter(l).isEmpty),
      "a forgotten id is not tombstoned exactly once in the store")

    // (5) a second forget, re-ingest of the forgotten ids (the ghost
    // included) and a post-forget compaction change nothing; every key
    // is committed by now, so the compaction folds each keyed table to
    // the reserved key alone, and an idempotent table to its own fold
    forget(t)
    ingest(t, forgot)
    compact(t)
    check(folded(t, forgot), s1, "forget re-run, re-ingest or compaction moved the state")
    assert(tombstones().count() == forgot.size, "re-ingest moved a tombstone")
    fams.foreach { case (f, n) =>
      f.fold match {
        case _: StateFamily.Idempotent =>
          assert(spark.read.parquet(t(n)).count() ==
            Streams.foldState(spark, f, t(n)).count(), s"$n: compaction left rows unfolded")
        case _ =>
          assert(spark.read.parquet(t(n)).select("batch_key").distinct().count() == 1,
            s"$n: compaction left committed keys unfolded")
      }
    }

    // (6) a crash after the commit point inside a compaction's publish and
    // inside a forget's publish (the last table each publishes: the last
    // family's, the store's tombstones), built on disk: the new rows
    // staged, the manifest written, the old table still in place. The
    // next operation's entry finishes each publish
    val c = newRoot("d")
    def crashAfterCommit(table: String)(op: => Unit): Unit = {
      val conf = spark.sparkContext.hadoopConfiguration
      val fs = org.apache.hadoop.fs.FileSystem.get(conf)
      def p(s: String) = new org.apache.hadoop.fs.Path(s)
      assert(org.apache.hadoop.fs.FileUtil.copy(fs, p(table), fs, p(s"$table.pre"), false, conf))
      op
      assert(fs.mkdirs(p(s"$table.stage")) && fs.rename(p(table), p(s"$table.stage/rows")) &&
        fs.rename(p(s"$table.pre"), p(table)))
      Files.writeString(java.nio.file.Path.of(s"$table.stage", "_GRAFT_COMMIT"), ".\tdata\n")
    }
    ingest(c, b0)
    if (fams.nonEmpty) crashAfterCommit(c(fams.last._2))(compact(c))
    ingest(c, b1)
    check(folded(c), s0, "an advance after a compaction's crashed publish != from-scratch build")
    crashAfterCommit(c("store"))(forget(c))
    ingest(c, forgot)
    check(folded(c, forgot), s1,
      "a re-ingest after a forget's crashed publish != from-scratch build over the survivors")
  }
}

/** A family whose append fails inside its write job: placed in an
  * advance's family list, it crashes the advance after the deltas before
  * it landed, and before the deltas after it and the store append. */
private[streaming] object Crash {
  def apply(store: StateFamily.Store, msg: String): StateFamily = {
    val boom = udf { (id: Long) =>
      if (id == id) throw new IllegalStateException(msg)
      id
    }
    StateFamily(store, i => i.rows.select(boom(col(store.key)).as("id")),
      StateFamily.Idempotent(identity), StateFamily.Rebuild)
  }

  /** Whether `e` or one of its causes carries `msg`. */
  def carries(e: Throwable, msg: String): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(c => Option(c.getMessage).exists(_.contains(msg)))
}
