package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.concurrent.Await
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
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

  test("ops.Par.blockingFuture jobs carry their caller's job group, back to back") {
    val sc = TestSpark.spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .filter(_.startsWith("bf-caller-")).foreach(groups.add)
    }
    sc.addSparkListener(listener)
    try {
      for (caller <- Seq("bf-caller-a", "bf-caller-b")) {
        sc.setJobGroup(caller, caller)
        try Await.result(ops.Par.blockingFuture(sc.parallelize(1 to 4, 2).count()), 60.seconds)
        finally sc.clearJobGroup()
      }
      org.apache.spark.ProfileBridge.drainListeners(sc)
    } finally sc.removeSparkListener(listener)
    assert(groups.asScala.toSeq === Seq("bf-caller-a", "bf-caller-b"))
  }
}
