package graft.tools

import scala.collection.concurrent.TrieMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.SparkSession

/** Warm-then-measure profiler for named SparkEntry queries: the timing
  * samples and execution shape behind the per-query evidence in
  * OPTIMIZATION_r21.md and the code comments that cite it. Per query: one
  * cold run (codegen, classloading), then `warmRuns` timed runs. The shape
  * (jobs, completed stage attempts, tasks, shuffle read, per-stage table)
  * is the last warm run's, read from the listener events of that run's
  * own job group once the listener bus is drained. The single-thread and
  * all-cores calibration probes before and after stamp the host's speed.
  *
  * Usage: Test/runMain graft.tools.Profile <sfDir> <warmRuns> q_a q_b … */
object Profile {
  final case class Calib(single: Double, par: Double)
  final case class Stage(id: Int, attempt: Int, name: String, wallMs: Long,
                         taskMs: Long, tasks: Int, readMB: Double,
                         writeMB: Double, inRec: Long, outRec: Long)
  /** `stageTable` is slowest first. */
  final case class QueryProfile(name: String, warmSec: Seq[Double],
                                calibBefore: Calib, calibAfter: Calib,
                                jobs: Int, stageTable: Seq[Stage]) {
    def stages: Int = stageTable.size
    def tasks: Int = stageTable.map(_.tasks).sum
    def shuffleMB: Double = stageTable.map(_.readMB).sum
  }

  /** Job and completed stage attempts, by job group. */
  private final class ByGroup extends SparkListener {
    val jobGroup = TrieMap.empty[Int, String]
    private val stageGroup = TrieMap.empty[Int, String]
    val stages = TrieMap.empty[(Int, Int), (String, Stage)]
    override def onJobStart(j: SparkListenerJobStart): Unit =
      Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .foreach { g => jobGroup.put(j.jobId, g); j.stageIds.foreach(stageGroup.put(_, g)) }
    override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = {
      val si = ev.stageInfo
      stageGroup.get(si.stageId).foreach(g =>
        stages.put((si.stageId, si.attemptNumber()), g -> stage(si)))
    }
  }

  private def stage(si: StageInfo): Stage = {
    val m = si.taskMetrics
    Stage(si.stageId, si.attemptNumber(), si.name.takeWhile(_ != '\n'),
      (for (a <- si.completionTime; b <- si.submissionTime) yield a - b).getOrElse(0L),
      m.executorRunTime, si.numTasks,
      m.shuffleReadMetrics.totalBytesRead / 1048576.0,
      m.shuffleWriteMetrics.bytesWritten / 1048576.0,
      m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead,
      m.outputMetrics.recordsWritten + m.shuffleWriteMetrics.recordsWritten)
  }

  private def calib(): Calib = Calib(graft.Bench.calibrate(), graft.Bench.calibrateParallel())

  def profile(spark: SparkSession, sfDir: String, names: Seq[String],
              warmRuns: Int): Seq[QueryProfile] = {
    require(warmRuns >= 1, s"warmRuns must be at least 1: $warmRuns")
    val sc = spark.sparkContext
    val listener = new ByGroup
    sc.addSparkListener(listener)
    try {
      val before = calib()
      val runs = names.map { name =>
        val fn = graft.SparkEntry.queries(name)
        def run(): String = {
          val group = s"graft-profile-${java.util.UUID.randomUUID}"
          sc.setJobGroup(group, name)
          try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          finally sc.clearJobGroup()
          group
        }
        run()
        val warm = (1 to warmRuns).map { _ =>
          val t0 = System.nanoTime()
          val group = run()
          ((System.nanoTime() - t0) / 1e9, group)
        }
        (name, warm.map(_._1), warm.last._2)
      }
      val after = calib()
      org.apache.spark.ProfileBridge.drainListeners(sc)
      runs.map { case (name, secs, group) =>
        QueryProfile(name, secs, before, after,
          listener.jobGroup.values.count(_ == group),
          listener.stages.values.collect { case (`group`, s) => s }.toSeq.sortBy(-_.wallMs))
      }
    } finally sc.removeSparkListener(listener)
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.Bench.session("graft-profile")
    val ps = profile(spark, args(0), args.drop(2).toSeq, args(1).toInt)
    ps.headOption.foreach(p => println(f"CALIB before single=${p.calibBefore.single}%.3f " +
      f"par=${p.calibBefore.par}%.3f after single=${p.calibAfter.single}%.3f par=${p.calibAfter.par}%.3f"))
    ps.foreach { p =>
      println(f"PROFILE ${p.name} min=${p.warmSec.min}%.3f samples=" +
        p.warmSec.map(s => f"$s%.3f").mkString(",") +
        f" jobs=${p.jobs} stages=${p.stages} tasks=${p.tasks} shuffleMB=${p.shuffleMB}%.1f")
      p.stageTable.take(25).foreach { s =>
        println(f"  stage=${s.id}%4d.${s.attempt} wall=${s.wallMs / 1e3}%7.3f task=${s.taskMs / 1e3}%7.3f " +
          f"tasks=${s.tasks}%4d sr=${s.readMB}%7.1fMB sw=${s.writeMB}%7.1fMB " +
          f"inRec=${s.inRec}%9d outRec=${s.outRec}%9d  ${s.name}")
      }
    }
    spark.stop()
  }
}
