package ragbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** What a workload measured: counts for the correctness verdict, the
  * end-to-end figures, the per-layer figures (traced runs only), sample
  * counts, and the first few problems the checks found. */
final case class Outcome(attempted: Long, failed: Long, e2e: Map[String, Double],
                         layers: Map[String, Double], samples: Map[String, Double],
                         problems: Seq[String]) {
  def withLayers(m: Map[String, Double]): Outcome = copy(layers = layers ++ m)
  def add(att: Long, fail: Long, probs: Seq[String]): Outcome =
    copy(attempted = attempted + att, failed = failed + fail, problems = problems ++ probs)
  def addChecks(c: IngestCheck): Outcome = add(c.attempted, c.failed, c.problems)
}

object Outcome {
  /** `tail` is the percentile reported as latency_tail_ms. */
  def ingest(setupS: Double, r: IngestRun, tail: Double): Outcome =
    Outcome(r.check.attempted, r.check.failed,
      Map("setup_s" -> setupS,
        "throughput" -> r.throughput,
        "latency_p50_ms" -> Stats.median(r.latencies),
        "latency_tail_ms" -> Stats.pct(r.latencies, tail)),
      Map.empty, Map("latency_samples" -> r.latencies.size.toDouble, "tail_percentile" -> tail) ++
        Outcome.percentiles(r.latencies), r.check.problems)

  /** Latency percentiles kept beside the result for reading the tail. */
  def percentiles(lat: Seq[Double]): Map[String, Double] =
    Seq(50, 75, 90, 95, 99).map(p => s"p$p" -> Stats.pct(lat, p)).toMap
}

object Trace {
  private var file: java.nio.file.Path = _

  /** Self time per layer along the blocking path, as metrics. */
  def selfMetrics(self: Map[String, Double], wallMs: Double): Map[String, Double] = {
    def ms(layer: String) = self.getOrElse(layer, 0.0)
    Map(
      "self.harness_ms" -> ms("harness"),
      "self.pipeline_ms" -> ms("pipeline"),
      "self.spark_job_ms" -> ms("spark.job"),
      "self.pipeline_stage_ms" -> ms("pipeline.stage"),
      "self.sink_ms" -> ms("sink"),
      "self.embed_ms" -> ms("embed"),
      "self.ops_request_ms" -> ms("ops.request"),
      "self.functions_stage_ms" -> ms("functions.stage"),
      "trace.wall_ms" -> wallMs,
      "trace.coverage" -> (if (wallMs <= 0) 0.0 else 1.0 - ms("harness") / wallMs))
  }

  /** Write the spans of the traced window, with parents, as JSON lines. */
  def write(spans: Seq[Span], lo: Double, hi: Double): Unit = if (file != null) {
    val ss = spans.filter(s => s.end > lo && s.start < hi).sortBy(_.start).toIndexedSeq
    val parents = Spans.parents(ss)
    val lines = Json.write(Map("name" -> "window", "layer" -> "harness", "start" -> lo, "end" -> hi,
      "id" -> -1, "parent" -> null)) +: ss.indices.map { i =>
      val s = ss(i)
      Json.write(Map("id" -> i, "name" -> s.name, "layer" -> s.layer, "start" -> s.start,
        "end" -> s.end, "parent" -> parents(i), "trace" -> s.trace))
    }
    Files.write(file, lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }

  def setFile(p: java.nio.file.Path): Unit = file = p
}

/** Entry point: `ragbench.Main --workload <w> --seed <n> --seconds <s>
  * --trace <0|1> --scale <full|tiny> --inject <none|drop|dup|vector|topk>
  * --launch-ms <epoch ms the JVM was launched> --work <scratch dir>
  * [--spans <file>]`. Prints an info line, then the result line last. */
object Main {
  private var sessionS = 0.0

  /** Set-up time: the JVM and SparkSession start (once) plus the median of
    * three rounds of the workload's own set-up; the last round is kept. */
  def setupTimed[T](ctx: Ctx)(make: () => T, dispose: T => Unit): (Double, T) = {
    var last: Option[T] = None
    val times = (1 to 3).map { _ =>
      last.foreach(dispose)
      val t0 = System.nanoTime()
      last = Some(make())
      (System.nanoTime() - t0) / 1e9
    }
    (sessionS + Stats.median(times), last.get)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    require(Seq("ingest_remote", "ingest_live", "rag_query").contains(workload), s"unknown workload $workload")
    val cores = Runtime.getRuntime.availableProcessors()
    val ctx = new Ctx(workload, opts("seed").toLong, opts("seconds").toInt, opts("trace") == "1",
      opts.getOrElse("scale", "full"), opts.getOrElse("inject", "none"), Paths.get(opts("work")), cores)
    sessionS = (System.currentTimeMillis() - opts("launch-ms").toLong) / 1000.0
    opts.get("spans").foreach(p => Trace.setFile(Paths.get(p)))
    var code = 0
    try {
      Log.phase("session ready")
      val calib = graft.Bench.calibrate()
      val calibPar = graft.Bench.calibrateParallel()
      val load = Probes.load1m()
      val o = workload match {
        case "ingest_remote" => Ingest.remote(ctx)
        case "ingest_live" => Ingest.live(ctx)
        case _ => Query.run(ctx)
      }
      Log.phase("workload done")
      val e2e = o.e2e + ("peak_rss_mb" -> Probes.vmHwmMb())
      val layers = o.layers ++ Map(
        "error_rate" -> o.failed.toDouble / math.max(o.attempted, 1L),
        "jvm.gc_ms" -> Probes.gcMs(),
        "jvm.heap_peak_mb" -> Probes.heapPeakMb(),
        "host.calib_s" -> calib,
        "host.calib_par_s" -> calibPar,
        "host.load1m" -> load)
      val host = Map("cpus" -> cores, "mem_gb" -> Probes.memGb(), "calib_s" -> calib,
        "calib_par_s" -> calibPar, "load1m" -> load, "spark" -> ctx.spark.version,
        "java" -> System.getProperty("java.version"),
        "git_sha" -> opts.getOrElse("git-sha", "unknown"),
        "source_hash" -> opts.getOrElse("source-hash", "unknown"))
      println(Json.write(Map("ragbench" -> Map("workload" -> workload, "seed" -> ctx.seed,
        "seconds" -> ctx.seconds, "trace" -> ctx.traced, "scale" -> ctx.scale, "host" -> host,
        "samples" -> o.samples, "problems" -> o.problems))))
      println(Json.write(Map(
        "correct" -> (o.failed == 0 && o.problems.isEmpty),
        "attempted" -> o.attempted,
        "failed" -> o.failed,
        "metrics" -> (if (ctx.traced) layers else e2e))))
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        code = 1
    } finally ctx.close()
    Log.phase("session stopped")
    System.out.flush()
    System.err.flush()
    // the session is stopped and the scratch directory is the caller's to
    // delete, so skip the shutdown hooks, which take seconds
    Runtime.getRuntime.halt(code)
  }
}
