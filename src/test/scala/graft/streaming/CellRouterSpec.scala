package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** The production cell-router (round-18: the shipped operator behind the
  * round-17 `cellwise` measurement). Contracts under test:
  *
  *  - REGROUP, exactly-once: every routed row leaves the stage in exactly
  *    one flushed wave (no-crash run), and each wave is cell-pure — its
  *    members' cells all map to one of the wave's ready groups (zero-norm
  *    rows ride group 0).
  *  - TRIGGERS: the size trigger flushes a full group early; the age
  *    trigger flushes a cold group once its oldest row has waited maxLag
  *    arrivals; a group that is neither stays staged.
  *  - CRASH between consume and the staged delete redelivers the WHOLE
  *    wave; the downstream maintainer's id guard collapses it — the
  *    maintained graph still equals the full build.
  *  - END TO END: decorrelated arrival through router + flush + drain
  *    feeds the [[StateFamily.KnnGraph]] advance to a graph equal to the
  *    from-scratch vs13 build, zero-norm sentinels included.
  */
class CellRouterSpec extends AnyFunSuite with SparkSpec {

  private def corpus() = {
    import spark.implicits._
    graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id", $"embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1)
  }

  test("router regroups exactly once, groups are cell-pure, both triggers fire, drain empties the stage") {
    import spark.implicits._
    val e = corpus()
    def df(b: Seq[(Long, Seq[Float])]) = b.toSeq.toDF("vec_id", "embedding")
    val all = df(e.toIndexedSeq)
    val cents = graft.queries.VectorOps.ivfCentroids(
      graft.queries.VectorOps.normed(all))
    val cellOf = graft.queries.VectorOps.assignCells(
        graft.queries.VectorOps.normed(all), cents)
      .select($"vec_id", $"cid")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val groups = 4
    val stageT = Files.createTempDirectory("router").toString + "/stage"

    val flushed = scala.collection.mutable.ArrayBuffer.empty[(Seq[Long], Seq[Long])]
    def flush(minRows: Long, maxLag: Long, curSeq: Long): Seq[Long] = {
      var ids = Seq.empty[Long]
      val ready = Streams.flushCellGroupsBatched(spark, stageT, minRows, maxLag,
        curSeq)(rows => ids = rows.select($"vec_id").collect().map(_.getLong(0)).toSeq)
      if (ready.nonEmpty) flushed += ready -> ids
      ready
    }

    // 4 decorrelated (id-interleaved) arrivals; the size trigger is low
    // enough that hot groups flush on size while colder ones ride the
    // age trigger — both paths exercise in one run
    val arrivals = 4
    for (k <- 0 until arrivals) {
      Streams.routeByCell(df(e.filter(_._1 % arrivals == k.toLong).toIndexedSeq),
        cents, stageT, groups, k.toLong)
      flush(minRows = 60L, maxLag = 2L, curSeq = k.toLong)
    }
    val preDrain = flushed.size
    assert(preDrain > 0, "neither trigger fired across four arrivals")
    flush(minRows = 1L, maxLag = 0L, curSeq = arrivals.toLong)
    // exactly once: the flushed waves partition the arrivals
    val seen = flushed.flatMap(_._2)
    assert(seen.size == seen.toSet.size, "a row left the stage twice")
    assert(seen.toSet == e.map(_._1).toSet, "a routed row never flushed")
    // cell purity: every member's cell maps to one of its wave's ready
    // groups (zero-norm rows carry no cell and ride group 0 — this corpus
    // has none, which the dedicated sentinel test below covers)
    flushed.foreach { case (ready, ids) =>
      ids.foreach { id =>
        assert(ready.contains(cellOf(id) % groups),
          s"row $id (cell ${cellOf(id)}) flushed in a wave of groups $ready")
      }
    }
    // the drain left nothing staged
    assert(flush(minRows = 1L, maxLag = 0L, curSeq = arrivals.toLong).isEmpty,
      "drain left staged groups")
  }

  test("a route after a flush whose publish crashed past its commit keeps every routed row") {
    import spark.implicits._
    val e = corpus()
    def df(b: Seq[(Long, Seq[Float])]) = b.toSeq.toDF("vec_id", "embedding")
    val cents = graft.queries.VectorOps.ivfCentroids(
      graft.queries.VectorOps.normed(df(e.toIndexedSeq)))
    val stageT = Files.createTempDirectory("router-crash").toString + "/stage"
    val (first, second) = e.partition(_._1 % 2 == 0)
    Streams.routeByCell(df(first.toIndexedSeq), cents, stageT, 1, 0L)
    // the flush's publish of its emptied group, crashed after the commit
    // with nothing moved (MergeWriter's layout): the old group still in
    // place, the manifest naming it empty
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = org.apache.hadoop.fs.FileSystem.get(conf)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    assert(org.apache.hadoop.fs.FileUtil.copy(fs, p(stageT), fs, p(s"$stageT.pre"), false, conf))
    Streams.flushCellGroupsBatched(spark, stageT, minRows = 1L, maxLag = 0L, curSeq = 0L)(_ => ())
    assert(fs.delete(p(stageT), true) && fs.rename(p(s"$stageT.pre"), p(stageT)))
    assert(fs.mkdirs(p(s"$stageT.stage/rows")))
    Files.writeString(java.nio.file.Path.of(s"$stageT.stage", "_GRAFT_COMMIT"), "kb=0\tempty\n")
    Streams.routeByCell(df(second.toIndexedSeq), cents, stageT, 1, 1L)
    var drained = Set.empty[Long]
    Streams.flushCellGroupsBatched(spark, stageT, minRows = 1L, maxLag = 0L, curSeq = 1L)(rows =>
      drained = rows.select($"vec_id").collect().map(_.getLong(0)).toSet)
    assert(drained == second.map(_._1).toSet, "a route after the crashed flush lost or redelivered rows")
  }

  test("cold group stays staged until the age trigger; size trigger flushes a hot group immediately") {
    import spark.implicits._
    val e = corpus()
    def df(b: Seq[(Long, Seq[Float])]) = b.toSeq.toDF("vec_id", "embedding")
    val all = df(e.toIndexedSeq)
    val cents = graft.queries.VectorOps.ivfCentroids(
      graft.queries.VectorOps.normed(all))
    val stageT = Files.createTempDirectory("router-age").toString + "/stage"
    // one small arrival: under a huge size trigger nothing is ready...
    Streams.routeByCell(df(e.take(40).toIndexedSeq), cents, stageT, 4, 0L)
    assert(Streams.flushCellGroupsBatched(spark, stageT, minRows = 1000000L,
      maxLag = 3L, curSeq = 0L)(_ => fail("flushed before ready")).isEmpty)
    // ...and still not at seq 2 (oldest = 0 > 2 - 3)...
    assert(Streams.flushCellGroupsBatched(spark, stageT, minRows = 1000000L,
      maxLag = 3L, curSeq = 2L)(_ => fail("age trigger fired early")).isEmpty)
    // ...but at seq 3 the age trigger releases every staged group
    var aged = 0
    Streams.flushCellGroupsBatched(spark, stageT, minRows = 1000000L, maxLag = 3L,
      curSeq = 3L)(_ => aged += 1)
    assert(aged > 0, "age trigger never fired")
    // size trigger: a big arrival flushes in the same step
    Streams.routeByCell(df(e.toIndexedSeq), cents, stageT, 1, 4L)
    var sized = 0
    Streams.flushCellGroupsBatched(spark, stageT, minRows = e.size.toLong,
      maxLag = 100L, curSeq = 4L)(rows => {
      sized += 1
      assert(rows.count() == e.size.toLong, "size-triggered group incomplete")
    })
    assert(sized == 1, "size trigger did not fire for a full group")
  }

  test("wave-batched flush: ready groups flush as ONE batch, exactly once, crash redelivers the whole wave, graph == full build") {
    import spark.implicits._
    val e = corpus()
    def df(b: Seq[(Long, Seq[Float])]) = b.toSeq.toDF("vec_id", "embedding")
    val all = df(e.toIndexedSeq)
    val cents = graft.queries.VectorOps.ivfCentroids(
      graft.queries.VectorOps.normed(all))
    val root = Files.createTempDirectory("router-wave").toString
    val (stageT, postT, graphT) = (s"$root/stage", s"$root/post", s"$root/graph")
    def advance(rows: org.apache.spark.sql.DataFrame): Unit =
      Streams.maintainState(rows, StateFamily.postings(cents), postT,
        StateFamily.KnnGraph -> graphT)

    val waves = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
    val arrivals = 3
    var crashed = false
    for (k <- 0 until arrivals) {
      Streams.routeByCell(df(e.filter(_._1 % arrivals == k.toLong).toIndexedSeq),
        cents, stageT, 3, k.toLong)
      try Streams.flushCellGroupsBatched(spark, stageT, minRows = 60L,
        maxLag = 1L, curSeq = k.toLong) { rows =>
        advance(rows)
        waves += rows.select($"vec_id").collect().map(_.getLong(0)).toSet
        // crash ONCE between the consume and the wave's staged delete:
        // the WHOLE wave must redeliver at the next flush, and the
        // maintainer's id guard must collapse the duplicates
        if (!crashed) { crashed = true; throw new IllegalStateException("boom") }
      } catch { case ex: IllegalStateException if ex.getMessage == "boom" => }
    }
    assert(crashed, "the crash leg never ran — triggers too lazy")
    Streams.flushCellGroupsBatched(spark, stageT, minRows = 1L, maxLag = 0L,
      curSeq = arrivals.toLong)(rows => {
      advance(rows)
      waves += rows.select($"vec_id").collect().map(_.getLong(0)).toSet
    })
    // exactly once modulo the injected crash: the crashed wave's rows may
    // appear twice across waves (redelivery), every routed row flushed
    assert(waves.flatten.toSet == e.map(_._1).toSet, "a routed row never flushed")
    // the drain left nothing staged
    assert(Streams.flushCellGroupsBatched(spark, stageT, minRows = 1L,
      maxLag = 0L, curSeq = arrivals.toLong)(_ => ()).isEmpty,
      "drain left staged groups")
    def key(g: org.apache.spark.sql.DataFrame): Set[(Long, Long, Int)] = g
      .select($"query_id", $"neighbor_id", $"rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val maintained = key(Streams.knnGraphSnapshot(spark, graphT))
    val scratch = key(graft.queries.VectorOps.knnGraph(
      graft.queries.VectorOps.assignCells(
        graft.queries.VectorOps.normed(all), cents), 3))
    assert(maintained.nonEmpty && maintained == scratch,
      "wave-batched routed graph drifted from the full build")
  }

  test("rows staged under an OLD quantizer still land correctly after an era swap — the advance re-assigns") {
    import spark.implicits._
    val e = corpus()
    def df(b: Seq[(Long, Seq[Float])]) = b.toSeq.toDF("vec_id", "embedding")
    val all = df(e.toIndexedSeq)
    val n = graft.queries.VectorOps.normed(all)
    // two legitimately different fixed quantizers (disjoint seed rows —
    // the former MaintainerProbe's rebuild pattern)
    val centsA = graft.queries.VectorOps.ivfCentroids(n)
    val centsB = n.filter($"vec_id" >= 8 && $"vec_id" < 16)
      .select($"vec_id".as("cid"), $"q".as("cq"), $"nrm".as("cn"))
    val root = Files.createTempDirectory("router-era").toString
    val (stageT, postT, graphT) = (s"$root/stage", s"$root/post", s"$root/graph")
    // stage EVERYTHING under quantizer A (its grouping), then the era
    // swaps before anything flushes; the advance runs under B
    Streams.routeByCell(df(e.toIndexedSeq), centsA, stageT, 3, 0L)
    Streams.flushCellGroupsBatched(spark, stageT, minRows = 1L, maxLag = 0L,
      curSeq = 1L)(rows =>
      Streams.maintainState(rows, StateFamily.postings(centsB), postT,
        StateFamily.KnnGraph -> graphT))
    def key(g: org.apache.spark.sql.DataFrame) = g
      .select($"query_id", $"neighbor_id", $"rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val maintained = key(Streams.knnGraphSnapshot(spark, graphT))
    val scratch = key(graft.queries.VectorOps.knnGraph(
      graft.queries.VectorOps.assignCells(n, centsB), 3))
    assert(maintained.nonEmpty && maintained == scratch,
      "stale-grouped staging corrupted the post-swap graph — the advance " +
        "must re-derive assignment under the current quantizer")
  }

  test("routed ingest == full vs13 build, through a consume-crash redelivery and a zero-norm arrival") {
    import spark.implicits._
    val e = corpus()
    def df(b: Seq[(Long, Seq[Float])]) = b.toSeq.toDF("vec_id", "embedding")
    val all = df(e.toIndexedSeq)
    val cents = graft.queries.VectorOps.ivfCentroids(
      graft.queries.VectorOps.normed(all))
    val root = Files.createTempDirectory("router-e2e").toString
    val (stageT, postT, graphT) = (s"$root/stage", s"$root/post", s"$root/graph")
    val zero = (777777L, e.head._2.map(_ => 0.0f))
    def advance(rows: org.apache.spark.sql.DataFrame): Unit =
      Streams.maintainState(rows, StateFamily.postings(cents), postT,
        StateFamily.KnnGraph -> graphT)

    val arrivals = 3
    var crashed = false
    for (k <- 0 until arrivals) {
      val b = e.filter(_._1 % arrivals == k.toLong).toIndexedSeq ++
        (if (k == 1) Seq(zero) else Seq.empty)
      Streams.routeByCell(df(b), cents, stageT, 3, k.toLong)
      try Streams.flushCellGroupsBatched(spark, stageT, minRows = 60L,
        maxLag = 1L, curSeq = k.toLong) { rows =>
        advance(rows)
        // crash ONCE between the consume and the staged delete: the
        // wave must redeliver wholesale at the next flush, and the
        // maintainer's id guard must collapse the duplicate
        if (!crashed) { crashed = true; throw new IllegalStateException("boom") }
      } catch { case ex: IllegalStateException if ex.getMessage == "boom" => }
    }
    assert(crashed, "the crash leg never ran — triggers too lazy")
    Streams.flushCellGroupsBatched(spark, stageT, minRows = 1L, maxLag = 0L,
      curSeq = arrivals.toLong)(advance)

    def key(g: org.apache.spark.sql.DataFrame): Set[(Long, Long, Int)] = g
      .select($"query_id", $"neighbor_id", $"rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val maintained = key(Streams.knnGraphSnapshot(spark, graphT))
    val scratch = key(graft.queries.VectorOps.knnGraph(
      graft.queries.VectorOps.assignCells(
        graft.queries.VectorOps.normed(all), cents), 3))
    assert(maintained.nonEmpty && maintained == scratch,
      "routed maintained graph drifted from the full build")
    // the zero-norm arrival rode group 0 and landed as the postings
    // sentinel — arrived exactly once, invisible to the graph
    val sentinel = spark.read.parquet(postT)
      .filter($"vec_id" === zero._1).select($"cid")
      .collect().map(_.getLong(0)).toSeq
    assert(sentinel == Seq(-1L),
      s"zero-norm arrival mishandled by the router: cids $sentinel")
  }
}
