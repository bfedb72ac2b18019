package graft

import scala.collection.mutable
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.scalactic.source.Position
import org.scalatest.Tag
import org.scalatest.funsuite.AnyFunSuiteLike

/** Runs a suite's tests overlapped on the shared session: every body
  * starts on the global pool (one thread per core) when the suite's
  * first test runs, and each test then waits for its own body and
  * reports its own result — a failed assertion or a thrown error fails
  * that test alone, exactly as it would have run serially. Most of a
  * Spark spec's time is a serial chain of small driver-bound jobs, so
  * independent bodies overlap well.
  *
  * Only for suites whose tests are independent: each writes under its
  * own temp dirs, shares nothing mutable with the others, sets no session
  * conf and registers no listener. */
trait OverlappedTests extends AnyFunSuiteLike {

  private val bodies = mutable.LinkedHashMap.empty[String, () => Any]

  private lazy val running: Map[String, Future[Any]] =
    bodies.map { case (name, body) => name -> Future(body()) }.toMap

  override protected def test(testName: String, testTags: Tag*)(testFun: => Any)(
      implicit pos: Position): Unit = {
    bodies(testName) = () => testFun
    super.test(testName, testTags: _*)(Await.result(running(testName), 30.minutes))
  }
}
