package ragbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import graft.embed.{HttpEmbeddingProvider, RetryPolicy, StubEmbeddingProvider}
import graft.pipeline.{PipelineConfig, RagPipeline}
import graft.sink.HttpVectorSink

/** One staged ingest: directories, the two mocks and the pipeline config.
  * Everything else in the config is a product default. */
final class IngestSetup(ctx: Ctx, embedMs: Double, failRate: Double, val chunk: Option[Int]) {
  val root: Path = ctx.freshDir("ingest")
  val source: Path = Files.createDirectories(root.resolve("source"))
  val staging: Path = Files.createDirectories(root.resolve("staging"))
  val dlq: Path = root.resolve("deadletter")
  val embed = new EmbedMock(ctx.seed, embedMs, failRate, ctx.timer, () => ctx.spans)
  val store = new StoreMock(Ingest.Index, ctx.inject, () => ctx.spans)
  val records = new ConcurrentLinkedQueue[Record]()

  def conf: PipelineConfig = PipelineConfig(Map(
    "mode" -> "streaming",
    "source.path" -> source.toString,
    "checkpoint.dir" -> root.resolve("checkpoint").toString,
    "model" -> "titan-v2",
    "embed.endpoint" -> embed.url,
    "sink.kind" -> "http",
    "sink.endpoint" -> store.url,
    "sink.index" -> Ingest.Index,
    "deadletter.dir" -> dlq.toString) ++ chunk.map(c => "chunk.size" -> c.toString))

  def stage(name: String, recs: Seq[Record]): Unit = {
    Gen.stage(staging, source, name, recs.map(_.line))
    recs.foreach(records.add)
  }

  def deadLettered(): Long =
    if (!Files.exists(dlq)) 0L
    else ctx.spark.read.parquet(dlq.toString).count()

  def stop(): Unit = { embed.stop(); store.stop() }
}

/** What one ingest measurement produced. `due` maps each record to the
  * time it was due at the source. */
final case class IngestRun(check: IngestCheck, lo: Double, hi: Double, throughput: Double,
                           latencies: Seq[Double], queryId: String, startedAt: Double,
                           due: Map[Long, Double], lateMs: Seq[Double])

object Ingest {
  val Index = "passages"
  private val BaseEpochMs = 1767571200000L // 2026-01-05T00:00:00Z
  private val EmptyShare = 0.02
  private val MalformedShare = 0.01
  private val NoChunking = 1 << 20

  // ---------------------------------------------------------------- ingest_remote

  /** Backlog records per measured second: the seed code drains about 125
    * records/s on a 4-core host (at most eight 50 ms embed calls in flight). */
  private val BacklogPerSecond = 120
  private val RecordsPerFile = 50
  private def backlog(ctx: Ctx): Int = if (ctx.tiny) 60 else BacklogPerSecond * ctx.seconds

  def stageBacklog(ctx: Ctx, n: Int): IngestSetup = {
    val s = new IngestSetup(ctx, embedMs = 50.0, failRate = 0.01, chunk = None)
    val g = new Gen(ctx.seed)
    val recs = (0 until n).map { i =>
      g.record(i.toLong, 20 + g.nextInt(41), Gen.iso(BaseEpochMs + i * 1000L), NoChunking,
        EmptyShare, MalformedShare)
    }
    recs.grouped(RecordsPerFile).zipWithIndex.foreach { case (rs, f) =>
      s.stage(f"part-$f%05d.json", rs)
    }
    s
  }

  /** Drain the staged backlog: start the query, wait until it has processed
    * every file, stop it. Throughput is records acked over the time from
    * the start call to the last ack; a record's latency runs from its first
    * embed request to the ack of its passage (its wait in the backlog is
    * the drain itself). */
  def drain(ctx: Ctx, s: IngestSetup): IngestRun = {
    val t0 = Clock.nowMs
    val (q, th) = ctx.startPipeline(s.conf)
    val started = Clock.nowMs
    try ctx.catchUp(q, 150) finally ctx.stopPipeline(q, th)
    val docs = s.store.docs.asScala.toSeq
    val check = Check.ingest(s.records.asScala.toSeq, docs, s.deadLettered())
    val hi = if (docs.isEmpty) Clock.nowMs else docs.map(_.ackMs).max
    val lat = check.lastAck.toSeq.flatMap { case (seq, ack) =>
      Option(s.embed.firstArrival.get(s"r${seq}c0")).map(ack - _.doubleValue)
    }
    val recs = s.records.asScala.toSeq
    IngestRun(check, t0, hi, check.lastAck.size / ((hi - t0) / 1000.0), lat, q.id.toString,
      started, recs.map(r => r.seq -> t0).toMap, Nil)
  }

  def remote(ctx: Ctx): Outcome = {
    val (setupS, first) = Main.setupTimed(ctx)(() => stageBacklog(ctx, backlog(ctx)), (s: IngestSetup) => s.stop())
    // an untimed drain of a tenth of the backlog first: a long-running
    // pipeline pays JIT compilation once, not per record
    val warm = stageBacklog(ctx, if (ctx.tiny) 20 else BacklogPerSecond * ctx.seconds / 10)
    val warmRun = try drain(ctx, warm) finally warm.stop()
    Log.phase("warm-up drain done")
    val plain = try drain(ctx, first) finally first.stop()
    val out = Outcome.ingest(setupS, plain, tail = 99).addChecks(warmRun.check)
    if (!ctx.traced) out
    else {
      ctx.trace(true)
      val s = stageBacklog(ctx, backlog(ctx))
      val (r, layers) = try {
        val r = drain(ctx, s)
        (r, ingestLayers(ctx, s, r) ++ isolated(ctx, s, chunking = None, sample = 200))
      } finally s.stop()
      ctx.trace(false)
      val (single, singleLayers) = singleCore(ctx)
      out.withLayers(layers ++ singleLayers +
          ("trace.overhead_pct" -> overheadPct(1 / plain.throughput, 1 / r.throughput)))
        .addChecks(r.check).addChecks(single.check)
    }
  }

  /** The same drain on `local[1]`: how much of the throughput comes from
    * parallel tasks. */
  private def singleCore(ctx: Ctx): (IngestRun, Map[String, Double]) = {
    ctx.restart(1)
    val s = stageBacklog(ctx, backlog(ctx))
    val r = try drain(ctx, s) finally s.stop()
    (r, Map("single.throughput" -> r.throughput, "single.latency_p50_ms" -> Stats.median(r.latencies)))
  }

  // ---------------------------------------------------------------- ingest_live

  /** Open-loop rate (records/s), about half of what the seed code sustains
    * here, and the shape of the longer documents. */
  private val LiveRate = 100.0
  private val TickMs = 100L
  private val ChunkTokens = 64
  private val WarmS = 6.0

  /** Generator: one file per tick, written by atomic rename. Each record's
    * `created_at` is its due time; how late the tick ran is kept. */
  final class LiveGen(ctx: Ctx, s: IngestSetup, rate: Double, t0: Double) extends Thread("ragbench-gen") {
    setDaemon(true)
    @volatile var stopAt: Double = Double.MaxValue
    val due = new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Double]()
    val late = new ConcurrentLinkedQueue[java.lang.Double]()
    private val g = new Gen(ctx.seed)
    private val (lnLo, lnHi) = (math.log(40), math.log(400))
    override def run(): Unit = {
      var tick = 0L
      var seq = 0L
      var owed = 0.0
      while (true) {
        val at = t0 + tick * TickMs
        if (at >= stopAt) return
        val wait = at - Clock.nowMs
        if (wait > 0) Thread.sleep(wait.toLong, ((wait - wait.toLong) * 1e6).toInt)
        owed += rate * TickMs / 1000.0
        val n = owed.toInt
        owed -= n
        val createdAt = Gen.iso(Clock.toEpochMs(at))
        val recs = (0 until n).map { _ =>
          val words = math.exp(lnLo + (lnHi - lnLo) * g.nextDouble()).toInt
          val r = g.record(seq, words, createdAt, ChunkTokens, EmptyShare, 0.0)
          due.put(seq, at); seq += 1; r
        }
        if (recs.nonEmpty) s.stage(f"tick-$tick%06d.json", recs)
        late.add(Clock.nowMs - at)
        tick += 1
      }
    }
  }

  def stageLive(ctx: Ctx): IngestSetup =
    new IngestSetup(ctx, embedMs = 5.0, failRate = 0.0, chunk = Some(ChunkTokens))

  /** Run the open loop: warm up, measure for `seconds`, stop the generator,
    * let the query catch up, stop it. Latency runs from a record's due time
    * to the ack of its last passage, for records due in the window. */
  def runLive(ctx: Ctx, s: IngestSetup, rate: Double): IngestRun = {
    val (q, th) = ctx.startPipeline(s.conf)
    val started = Clock.nowMs
    val t0 = Clock.nowMs + 50
    val warm = if (ctx.tiny) 1.0 else WarmS
    val lo = t0 + warm * 1000
    val hi = lo + ctx.seconds * 1000.0
    val gen = new LiveGen(ctx, s, rate, t0)
    gen.stopAt = hi
    try {
      gen.start()
      gen.join()
      ctx.catchUp(q, 60)
    } finally ctx.stopPipeline(q, th)
    val docs = s.store.docs.asScala.toSeq
    val check = Check.ingest(s.records.asScala.toSeq, docs, s.deadLettered())
    val due = gen.due.asScala.map { case (k, v) => k.longValue -> v.doubleValue }.toMap
    val inWindow = check.lastAck.filter { case (seq, _) => due(seq) >= lo && due(seq) < hi }
    val acked = check.lastAck.values.count(a => a >= lo && a < hi)
    val lat = inWindow.toSeq.map { case (seq, ack) => (due(seq), ack - due(seq)) }
    // latency by due time, to show whether warm-up spilled into the window
    lat.groupBy { case (d, _) => ((d - lo) / 2000).toInt }.toSeq.sortBy(_._1).foreach { case (b, xs) =>
      Log.phase(f"due +${b * 2}%2d s: ${xs.size} records, p50 ${Stats.median(xs.map(_._2))}%.0f ms")
    }
    IngestRun(check, lo, hi, acked / ctx.seconds.toDouble, lat.map(_._2), q.id.toString, started,
      due, gen.late.asScala.toSeq.map(_.doubleValue))
  }

  def live(ctx: Ctx): Outcome = {
    val rate = if (ctx.tiny) 10.0 else LiveRate
    val (setupS, first) = Main.setupTimed(ctx)(() => stageLive(ctx), (s: IngestSetup) => s.stop())
    val plain = try runLive(ctx, first, rate) finally first.stop()
    // p90, not p99: one slow micro-batch holds about 1 % of the window's
    // records, so p99 moved by a quarter between runs of the same code
    val out = Outcome.ingest(setupS, plain, tail = 90)
    if (!ctx.traced) out
    else {
      ctx.trace(true)
      val s = stageLive(ctx)
      val (r, layers) = try {
        val r = runLive(ctx, s, rate)
        (r, ingestLayers(ctx, s, r) ++ isolated(ctx, s, Some((ChunkTokens, ChunkTokens)), sample = 100))
      } finally s.stop()
      ctx.trace(false)
      out.withLayers(layers ++ Map(
          "gen.late_ms_p99" -> Stats.pct(r.lateMs, 99),
          "trace.overhead_pct" -> overheadPct(Stats.median(plain.latencies), Stats.median(r.latencies))))
        .addChecks(r.check)
    }
  }

  // ---------------------------------------------------------------- layers

  /** Tracing cost in percent: how much more a unit of work cost in the
    * traced measurement than in the untraced one (cost = time per record or
    * per request). */
  def overheadPct(plainCost: Double, tracedCost: Double): Double =
    (tracedCost / plainCost - 1) * 100

  private def ingestLayers(ctx: Ctx, s: IngestSetup, r: IngestRun): Map[String, Double] = {
    ctx.drain()
    val batches = ctx.streamProbe.of(r.queryId).filter(b => b.end > r.lo && b.start < r.hi)
    val jobs = ctx.sparkProbe.jobsWhere(_.queryId == r.queryId)
    val stages = ctx.sparkProbe.stagesOf(jobs)
    val windowJobs = jobs.filter(j => j.end > r.lo && j.start < r.hi)
    val windowStages = stages.filter(st => st.end > r.lo && st.start < r.hi)
    val lag = r.check.lastAck.keys.toSeq.flatMap { seq =>
      Option(s.embed.firstArrival.get(s"r${seq}c0")).map(_.doubleValue - r.due(seq))
    }
    val calls = s.embed.calls.get.toDouble
    val docs = s.store.docCount.get.toDouble
    val spans = ctx.spans.all ++
      batches.map(b => Span(s"batch ${b.batchId}", "pipeline", Depth.Batch, b.start, b.end)) ++
      Seq(Span("query start", "pipeline", Depth.Batch, r.lo.min(r.startedAt), r.startedAt)) ++
      Probes.sparkSpans(windowJobs, windowStages, "pipeline.stage")
    Trace.write(spans, r.lo, r.hi)
    val self = Spans.selfTimes(spans, r.lo, r.hi)
    Map(
      "pipeline.batches" -> batches.size.toDouble,
      "pipeline.batch_ms_p50" -> Stats.median(batches.map(_.ms("triggerExecution").toDouble)),
      "pipeline.planning_ms_mean" -> Stats.mean(batches.map(_.ms("queryPlanning").toDouble)),
      "pipeline.offset_ms_mean" -> Stats.mean(batches.map(b => (b.ms("latestOffset") + b.ms("getBatch")).toDouble)),
      "pipeline.commit_ms_mean" -> Stats.mean(batches.map(b => (b.ms("walCommit") + b.ms("commitOffsets")).toDouble)),
      "pipeline.source_lag_ms" -> Stats.median(lag),
      "pipeline.tasks_per_batch" -> (if (batches.isEmpty) 0.0 else windowStages.map(_.tasks).sum.toDouble / batches.size),
      "embed.calls" -> calls,
      "embed.retries" -> s.embed.retriesServed.get.toDouble,
      "embed.useful_ratio" -> (if (calls == 0) 0.0 else s.embed.distinctTexts / calls),
      "embed.inflight_peak" -> s.embed.gauge.peak.toDouble,
      "embed.inflight_mean" -> inflightMean(ctx.spans.all, r.lo, r.hi),
      "embed.call_p50_ms" -> Stats.median(s.embed.callLatencies),
      "embed.call_p99_ms" -> Stats.pct(s.embed.callLatencies, 99),
      "embed.dead_letters" -> s.deadLettered().toDouble,
      "sink.bulks" -> s.store.bulks.get.toDouble,
      "sink.docs_per_bulk" -> (if (s.store.bulks.get == 0) 0.0 else docs / s.store.bulks.get),
      "sink.bytes_per_doc" -> (if (docs == 0) 0.0 else s.store.bodyBytes.get / docs),
      "sink.bulk_p50_ms" -> Stats.median(s.store.bulkLatencies),
      "sink.inflight_peak" -> s.store.concurrentSenders(50).toDouble,
      "sink.retries" -> s.store.resentBulks.get.toDouble,
      "sink.dead_docs" -> r.check.missing.toDouble) ++ Trace.selfMetrics(self, r.hi - r.lo)
  }

  /** Mean in-flight embed calls over [lo, hi], from the call spans. */
  private def inflightMean(spans: Seq[Span], lo: Double, hi: Double): Double =
    spans.filter(_.depth == Depth.Embed)
      .map(c => math.max(0.0, math.min(c.end, hi) - math.max(c.start, lo))).sum / math.max(hi - lo, 1e-9)

  /** Isolated timed calls into single layers on the staged input, each
    * forced by a `noop` write: pre-embed stages, the embed stage (against
    * the same mock), and the HTTP sink's append. */
  private def isolated(ctx: Ctx, s: IngestSetup, chunking: Option[(Int, Int)],
                       sample: Int): Map[String, Double] = {
    val spark = ctx.spark
    val raw = spark.read.text(s.source.toString)
    def timed(name: String)(body: => Unit): Double = {
      val t0 = Clock.nowMs
      body
      val t1 = Clock.nowMs
      ctx.spans.add(Span(name, "isolated", Depth.Batch, t0, t1))
      t1 - t0
    }
    val preMs = timed("isolated.pre_embed") {
      RagPipeline.preEmbed(raw, chunking).write.format("noop").mode("overwrite").save()
    }
    val parsed = RagPipeline.parseWire(raw)
    val counts = parsed.agg(count(lit(1)),
      sum(when(col("_corrupt_record").isNotNull, 1).otherwise(0)),
      sum(when(col("_corrupt_record").isNull && (col("text").isNull || col("text") === ""), 1)
        .otherwise(0))).head()
    val chunks = RagPipeline.preEmbed(raw, chunking).count()
    val sampleRaw = raw.limit(sample)
    s.embed.reset()
    val embedMs = timed("isolated.embed") {
      RagPipeline.embedSafe(RagPipeline.preEmbed(sampleRaw, chunking),
          HttpEmbeddingProvider(s.embed.url, "titan-v2"), RetryPolicy(), 1000)
        .write.format("noop").mode("overwrite").save()
    }
    val docs = RagPipeline.toVectorDocs(RagPipeline.embed(RagPipeline.preEmbed(sampleRaw, chunking),
      StubEmbeddingProvider("titan-v2"))).cache()
    docs.count()
    val sinkMs = timed("isolated.sink") {
      HttpVectorSink(s.store.url, "isolated").append(docs)
    }
    docs.unpersist()
    Map(
      "pipeline.pre_embed_ms" -> preMs,
      "pipeline.rows_in" -> counts.getLong(0).toDouble,
      "pipeline.rows_corrupt" -> counts.getLong(1).toDouble,
      "pipeline.rows_empty" -> counts.getLong(2).toDouble,
      "pipeline.chunks_out" -> chunks.toDouble,
      "embed.stage_ms" -> embedMs,
      "sink.append_ms" -> sinkMs)
  }
}
