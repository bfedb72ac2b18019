package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.PlanInspect

/** [[Profile.run]] at spec scale on two gates: vs08 plans exchanges and
  * keeps interpreted expressions, q09 is a scan into a top-k with no
  * exchange at all. */
class ProfileSpec extends AnyFunSuite with SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private val (withExchange, without) = ("vs08_pq_search", "q09_topk")

  test("listener profile: jobs seen, shuffle only where the plan exchanges, stage + driver-only = wall, plan columns match the plan") {
    val res = Profile.run(spark, Seq(sf), Seq(withExchange, without))
    assert(res.failures.isEmpty, res.failures.mkString("\n"))
    def row(g: String) = res.rows.find(_.gate == g).get
    for (g <- Seq(withExchange, without)) {
      val r = row(g)
      assert(r.runs.size == Profile.Runs, s"$g: ${r.runs.size} timed runs")
      assert(r.minS > 0 && r.minS <= r.medianS)
      for (run <- r.runs) {
        assert(run.jobs > 0, s"$g: no job seen")
        assert(run.stages.nonEmpty, s"$g: no stage seen")
        assert(math.abs(run.stageS + run.driverOnlyS - run.wallS) < 1e-3)
        assert(run.stageS > 0 && run.stageS <= run.wallS + 1e-9,
          s"$g: stage-covered ${run.stageS} s outside the wall ${run.wallS} s")
        assert(run.stages.forall(_.site.nonEmpty))
      }
    }
    def shuffled(g: String) = row(g).median.get.stages.map(_.shuffleWriteBytes).sum
    val (ex, no) = (row(withExchange).median.get.plan.get, row(without).median.get.plan.get)
    assert(ex.exchanges > 0 && shuffled(withExchange) > 0)
    assert(no.exchanges == 0 && shuffled(without) == 0)
    assert(ex.fileScans > 0 && ex.filesRead > 0 && ex.bytesRead > 0)
    // the plan columns of the listener's captured write agree with the
    // gate's own plan, and are not vacuous
    for (g <- Seq(withExchange, without)) {
      val own = graft.queries.Catalog.byName(g).fn(spark, sf).queryExecution.executedPlan
      assert(row(g).median.get.plan.get.interpreted == PlanInspect.interpreted(own), g)
    }
    assert(ex.interpreted.contains("zip_with"))
    // one scale: nothing to fit
    assert(res.fit(withExchange).isEmpty)
    val json = Profile.json(res, "4")
    assert(json.contains("\"" + withExchange + "\"") && json.contains("\"driver_only_s\""))
  }
}
