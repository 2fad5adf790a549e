package ragbench

import java.nio.file.{Files, Path}
import java.util.concurrent.{Executors, ScheduledExecutorService}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery
import graft.pipeline.{PipelineConfig, RunPipeline}

/** Everything one benchmark run shares: the session, the run's scratch
  * directory, the reply timer the mocks schedule on, and the probes. */
final class Ctx(val workload: String, val seed: Long, val seconds: Int, val traced: Boolean,
                val scale: String, val inject: String, val work: Path, cores: Int) {
  var cpus: Int = cores
  var spark: SparkSession = Ctx.session(cpus)
  val timer: ScheduledExecutorService = Executors.newSingleThreadScheduledExecutor { r =>
    val t = new Thread(r, "ragbench-reply-timer"); t.setDaemon(true); t
  }
  var spans = new Spans(false)
  var streamProbe = new StreamProbe
  var sparkProbe = new SparkProbe
  private var attached = false
  private var dirs = 0

  def tiny: Boolean = scale == "tiny"

  /** A fresh, empty directory under the run's scratch directory. */
  def freshDir(name: String): Path = {
    dirs += 1
    val p = work.resolve(f"$dirs%03d-$name")
    Files.createDirectories(p)
    p
  }

  /** Turn tracing on or off: span recording plus fresh streaming and Spark
    * listeners. */
  def trace(on: Boolean): Unit = {
    if (attached) {
      spark.streams.removeListener(streamProbe)
      spark.sparkContext.removeSparkListener(sparkProbe)
      attached = false
    }
    spans = new Spans(on)
    if (on) {
      streamProbe = new StreamProbe; sparkProbe = new SparkProbe
      spark.streams.addListener(streamProbe)
      spark.sparkContext.addSparkListener(sparkProbe)
      attached = true
    }
  }

  def drain(): Unit = org.apache.spark.RagbenchBridge.drainListeners(spark.sparkContext)

  /** Replace the session with one on `n` cores (the single-core baseline). */
  def restart(n: Int): Unit = {
    trace(false)
    spark.stop()
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    cpus = n
    spark = Ctx.session(n)
  }

  /** Start the pipeline through the config entry point on its own thread
    * (`RunPipeline.run` blocks until the query stops) and return the query. */
  def startPipeline(conf: PipelineConfig): (StreamingQuery, Thread) = {
    val before = spark.streams.active.map(_.id).toSet
    @volatile var failure: Throwable = null
    val th = new Thread(() => try RunPipeline.run(spark, conf.validated)
      catch { case e: Throwable => failure = e }, "ragbench-pipeline")
    th.setDaemon(true)
    th.start()
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (true) {
      spark.streams.active.find(q => !before(q.id)) match {
        case Some(q) => return (q, th)
        case None =>
          if (failure != null) throw new IllegalStateException("pipeline failed to start", failure)
          if (System.nanoTime() > deadline) throw new IllegalStateException("pipeline did not start")
          Thread.sleep(2)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Stop a query and wait for its runner thread. */
  def stopPipeline(q: StreamingQuery, th: Thread): Unit = {
    q.stop()
    th.join(60000)
  }

  /** `q.processAllAvailable()` under a watchdog that stops the query if it
    * has not caught up within `limitS` seconds. */
  def catchUp(q: StreamingQuery, limitS: Double): Unit = {
    val dog = timer.schedule((() => {
      if (q.isActive) new Thread(() => q.stop(), "ragbench-watchdog").start()
    }): Runnable,
      (limitS * 1000).toLong, java.util.concurrent.TimeUnit.MILLISECONDS)
    try q.processAllAvailable() finally dog.cancel(false)
    q.exception.foreach(e => throw e)
  }

  def close(): Unit = {
    timer.shutdownNow()
    try spark.stop() catch { case _: Throwable => () }
  }
}

object Ctx {
  def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("ragbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.streaming.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
