package graft

import org.scalatest.funsuite.AnyFunSuite

class ProfileSpec extends AnyFunSuite {

  test("profiler: job groups separate back-to-back runs of one query, no sleep") {
    val ps = tools.Profile.profile(TestSpark.spark, TestSpark.sf,
      Seq("q1_agg", "q1_agg"), warmRuns = 1)
    assert(ps.map(_.name) === Seq("q1_agg", "q1_agg"))
    val Seq(a, b) = ps.map(p => (p.jobs, p.stages, p.tasks))
    assert(a._1 > 0 && a._2 > 0 && a._3 > 0, a)
    assert(a === b)
    assert(ps.forall(_.warmSec.size == 1))
  }
}
