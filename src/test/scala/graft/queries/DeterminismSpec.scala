package graft.queries

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Every catalog query must return value-identical, order-identical
  * results regardless of physical parallelism — shuffle-partition count
  * is the knob most likely to expose a nondeterministic ordering or an
  * FP-accumulation-order dependency, and either would silently fail the
  * driver's hash compare. */
class DeterminismSpec extends AnyFunSuite with SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** Every catalog query's collected rows under one shuffle-partition
    * count. The count is session-wide, so it is set once per pass; inside
    * a pass the queries run on a few threads (each is a serial chain of
    * small driver-bound jobs), and the rows come back in catalog order. */
  private def pass(parts: String): Seq[Seq[String]] = {
    val pool = Executors.newFixedThreadPool(3)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    spark.conf.set("spark.sql.shuffle.partitions", parts)
    try Await.result(Future.traverse(Catalog.all) { q =>
        Future(q.fn(spark, sf).collect().map(_.toString).toSeq)
      }, 30.minutes)
    finally {
      pool.shutdown()
      spark.conf.set("spark.sql.shuffle.partitions", "4")
    }
  }

  test("all catalog queries are stable across shuffle-partition counts") {
    val a = pass("4")
    val b = pass("7")
    val diffs = Catalog.all.zip(a.zip(b)).flatMap { case (q, (a, b)) =>
      if (a == b) None
      else Some(s"${q.name}: ${a.size} vs ${b.size} rows, first diff at " +
        a.zip(b).indexWhere { case (x, y) => x != y })
    }
    assert(diffs.isEmpty, diffs.mkString("\n"))
  }
}
