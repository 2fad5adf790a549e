package ragbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One micro-batch as `StreamingQueryProgress` reports it. */
final case class BatchInfo(queryId: String, batchId: Long, start: Double, durations: Map[String, Long],
                           rows: Long) {
  def end: Double = start + durations.getOrElse("triggerExecution", 0L)
  def ms(k: String): Long = durations.getOrElse(k, 0L)
}

/** Collects progress events of every streaming query in the session. */
final class StreamProbe extends StreamingQueryListener {
  val batches = new ConcurrentLinkedQueue[BatchInfo]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    batches.add(BatchInfo(p.id.toString, p.batchId,
      Clock.ofEpochMs(java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble), d,
      p.numInputRows))
  }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def of(queryId: String): Seq[BatchInfo] =
    batches.asScala.toSeq.filter(_.queryId == queryId).sortBy(_.batchId)
}

final case class JobInfo(jobId: Int, group: String, queryId: String, start: Double,
                         var end: Double, stageIds: Seq[Int])
final case class StageRec(stageId: Int, attempt: Int, start: Double, end: Double, tasks: Int,
                          inputBytes: Long, shuffleBytes: Long, spillBytes: Long,
                          runMs: Long)

/** Jobs and stages with their job group and streaming query id, so a
  * request's or a micro-batch's Spark work can be picked out. */
final class SparkProbe extends SparkListener {
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobInfo]()
  private val stages = new ConcurrentLinkedQueue[StageRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k))).getOrElse("")
    jobs.put(e.jobId, JobInfo(e.jobId, prop("spark.jobGroup.id"), prop("sql.streaming.queryId"),
      Clock.ofEpochMs(e.time.toDouble), Double.NaN, e.stageIds))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = Clock.ofEpochMs(e.time.toDouble))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    val m = s.taskMetrics
    val start = s.submissionTime.map(_.toDouble).getOrElse(Double.NaN)
    val end = s.completionTime.map(_.toDouble).getOrElse(Double.NaN)
    stages.add(StageRec(s.stageId, s.attemptNumber(), Clock.ofEpochMs(start), Clock.ofEpochMs(end),
      s.numTasks,
      if (m == null) 0L else m.inputMetrics.bytesRead,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled,
      if (m == null) 0L else m.executorRunTime))
  }

  def allJobs: Seq[JobInfo] = jobs.values.asScala.toSeq.filterNot(_.end.isNaN).sortBy(_.jobId)
  def jobsWhere(p: JobInfo => Boolean): Seq[JobInfo] = allJobs.filter(p)
  /** Stages run by the given jobs (skipped stages never complete, so they
    * are absent). */
  def stagesOf(js: Seq[JobInfo]): Seq[StageRec] = {
    val ids = js.flatMap(_.stageIds).toSet
    stages.asScala.toSeq.filter(s => ids(s.stageId) && !s.end.isNaN)
  }
}

object Probes {
  /** Spans for Spark jobs and stages, at the job and stage depths. */
  def sparkSpans(js: Seq[JobInfo], ss: Seq[StageRec], layer: String): Seq[Span] =
    js.map(j => Span(s"job ${j.jobId}", "spark.job", Depth.Job, j.start, j.end)) ++
      ss.map(s => Span(s"stage ${s.stageId}.${s.attempt}", layer, Depth.Stage, s.start, s.end))

  def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  def gcMs(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.toDouble).sum

  def heapPeakMb(): Double =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed.toDouble).sum / (1024.0 * 1024.0)

  def load1m(): Double = {
    val src = scala.io.Source.fromFile("/proc/loadavg")
    try src.mkString.trim.split("\\s+")(0).toDouble finally src.close()
  }

  def memGb(): Double = {
    val src = scala.io.Source.fromFile("/proc/meminfo")
    try src.getLines().find(_.startsWith("MemTotal:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / (1024.0 * 1024.0)).getOrElse(0.0)
    finally src.close()
  }
}
