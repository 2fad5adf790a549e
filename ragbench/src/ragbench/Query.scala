package ragbench

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import graft.embed.StubEmbeddingProvider
import graft.ops.{Knn, Retrieval}
import graft.pipeline.PipelineConfig
import graft.sink.VectorTable

/** One retrieval request: exact cosine top-k, the same with a `date` range
  * filter, or hybrid BM25 + cosine fused by reciprocal rank. */
final case class QSpec(kind: Int, vec: Array[Float], terms: Seq[String], loMs: Long, hiMs: Long)

/** A document of the setup snapshot, held on the driver for brute force. */
final case class SnapDoc(id: String, tokens: Array[String], dateMs: Long, vec: Array[Float])

/** The vector table, built by the pipeline with the stub provider into the
  * parquet sink, one `batch=<id>` directory per micro-batch. */
final class QuerySetup(ctx: Ctx) {
  val root: Path = ctx.freshDir("query")
  val source: Path = Files.createDirectories(root.resolve("source"))
  val staging: Path = Files.createDirectories(root.resolve("staging"))
  val table: String = root.resolve("table").toString
  def conf: PipelineConfig = PipelineConfig(Map(
    "mode" -> "streaming",
    "source.path" -> source.toString,
    "checkpoint.dir" -> root.resolve("checkpoint").toString,
    "model" -> "titan-v2",
    "sink.kind" -> "parquet",
    "sink.dir" -> table))
}

object PlanWalk extends AdaptiveSparkPlanHelper {
  def filesRead(qe: QueryExecution): Long =
    collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec =>
      s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
}

object Query {
  val Kinds = IndexedSeq("knn", "knn_filtered", "hybrid")
  val K = 10
  private val Pool = 20
  private val WarmS = 6.0
  private val BaseEpochMs = 1767225600000L // 2026-01-01T00:00:00Z
  private val DayMs = 86400000L
  private val Days = 10
  private val FilterDays = 3

  private def sizes(ctx: Ctx): (Int, Int) = if (ctx.tiny) (200, 2) else (2000, 5)

  /** A corpus document; `day` pins its date to one day (the writer's
    * documents all land on the newest day, as a live stream's would). */
  private def doc(g: Gen, seq: Long, day: Option[Int] = None): Record = {
    val at = day.map(d => (d + g.nextDouble()) * DayMs).getOrElse(g.nextDouble() * Days * DayMs)
    g.record(seq, 20 + g.nextInt(61), Gen.iso(BaseEpochMs + at.toLong), 1 << 20, 0.0, 0.0)
  }

  def build(ctx: Ctx): QuerySetup = {
    val s = new QuerySetup(ctx)
    val g = new Gen(ctx.seed)
    val (docs, batches) = sizes(ctx)
    val (q, th) = ctx.startPipeline(s.conf)
    try {
      for (b <- 0 until batches) {
        val recs = (0 until docs / batches).map(i => doc(g, (b * (docs / batches) + i).toLong))
        Gen.stage(s.staging, s.source, f"corpus-$b%03d.json", recs.map(_.line))
        ctx.catchUp(q, 60)
      }
    } finally ctx.stopPipeline(q, th)
    s
  }

  def specs(ctx: Ctx, n: Int): IndexedSeq[QSpec] = {
    val g = new Gen(ctx.seed * 31 + 7)
    val stub = StubEmbeddingProvider("titan-v2")
    // equal thirds in a seeded order, so every seed runs the same mix
    val order = new scala.util.Random(ctx.seed)
    (0 until n / 3).flatMap(_ => order.shuffle(Kinds.indices.toList)).map { kind =>
      val text = g.words(5).mkString(" ")
      val terms = Seq.fill(2)(g.vocab(10 + g.nextInt(190))).distinct
      val lo = BaseEpochMs + g.nextInt(Days - FilterDays) * DayMs
      QSpec(kind, stub.embed(text).embedding, terms, lo, lo + FilterDays * DayMs)
    }
  }

  /** One request against the table as it is now; returns the ids in rank
    * order and the executed query. */
  def request(ctx: Ctx, table: String, q: QSpec): (Seq[String], QueryExecution) = {
    val corpus = VectorTable.readBatched(ctx.spark, table)
    def knn(df: org.apache.spark.sql.DataFrame, k: Int) =
      Knn.topK(df, "passage_embedding", "_id", q.vec, k)
    val df = q.kind match {
      case 0 => knn(corpus, K)
      case 1 => knn(corpus.filter(col("date") >= lit(new Timestamp(q.loMs)) &&
        col("date") < lit(new Timestamp(q.hiMs))), K)
      case _ =>
        val bm25 = Retrieval.ranked(Retrieval.bm25TopK(corpus, "text", "_id", q.terms, Pool), "_id", "bm25")
        val vec = Retrieval.ranked(knn(corpus, Pool), "_id", "score")
        Retrieval.rrfFuse(Seq(bm25, vec), "_id", K)
    }
    val out = df.select("_id")
    (out.collect().map(_.getString(0)).toSeq, out.queryExecution)
  }

  // ------------------------------------------------------------ brute force

  def snapshot(ctx: Ctx, table: String): IndexedSeq[SnapDoc] =
    VectorTable.readBatched(ctx.spark, table).select("_id", "text", "date", "passage_embedding")
      .collect().map { r =>
        SnapDoc(r.getString(0), r.getString(1).trim.toLowerCase.split("\\s+").filter(_.nonEmpty),
          r.getTimestamp(2).getTime, r.getSeq[Float](3).toArray)
      }.toIndexedSeq

  /** The cosine kernel's arithmetic, element by element in double. */
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var qa = 0.0; var qb = 0.0; var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; qa += x * x; qb += y * y; i += 1
    }
    if (qa == 0.0 || qb == 0.0) 0.0 else dot / (math.sqrt(qa) * math.sqrt(qb))
  }

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def topBy(scored: Seq[(Double, String)], k: Int): Seq[String] =
    scored.sortBy { case (s, id) => (-s, id) }.take(k).map(_._2)

  /** [[Retrieval.bm25TopK]]'s arithmetic in the same operation order, rounded
    * to six places like it; documents matching no term are left out. */
  private def bm25Scores(docs: IndexedSeq[SnapDoc], q: QSpec): Seq[(Double, String)] = {
    val n = docs.size.toDouble
    val sumdl = docs.map(_.tokens.length.toDouble).sum
    val df = q.terms.map(t => docs.count(_.tokens.contains(t)).toDouble)
    docs.flatMap { d =>
      val dl = d.tokens.length.toDouble
      val parts = q.terms.indices.map { i =>
        val tf = d.tokens.count(_ == q.terms(i)).toDouble
        val idf = StrictMath.log(1.0 + (n - df(i) + 0.5) / (df(i) + 0.5))
        idf * (tf * (1.2 + 1.0)) / (tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl / (sumdl / n)))
      }
      if (q.terms.exists(d.tokens.contains)) Some((round6(parts.reduce(_ + _)), d.id)) else None
    }
  }

  /** Ids a correct engine returns on `docs`, ties broken by id. */
  def expected(docs: IndexedSeq[SnapDoc], q: QSpec): Seq[String] = {
    def knn(ds: Seq[SnapDoc], k: Int) = topBy(ds.map(d => (cosine(d.vec, q.vec), d.id)), k)
    q.kind match {
      case 0 => knn(docs, K)
      case 1 => knn(docs.filter(d => d.dateMs >= q.loMs && d.dateMs < q.hiMs), K)
      case _ =>
        val lists = Seq(topBy(bm25Scores(docs, q), Pool), knn(docs, Pool))
        val rrf = lists.flatMap(_.zipWithIndex.map { case (id, r) => id -> 1.0 / (60.0 + (r + 1)) })
          .groupBy(_._1).toSeq.map { case (id, xs) => (round6(xs.map(_._2).sum), id) }
        topBy(rrf, K)
    }
  }

  // ------------------------------------------------------------ the workload

  /** Background writer: a second run of the same pipeline on the same
    * checkpoint (so batch ids continue) fed a few documents per tick. */
  final class Writer(ctx: Ctx, s: QuerySetup) {
    private val g = new Gen(ctx.seed * 17 + 3)
    @volatile private var running = true
    private val (q, th) = ctx.startPipeline(s.conf)
    val queryId: String = q.id.toString
    private val gen = new Thread(() => {
      var tick = 0
      val t0 = Clock.nowMs
      while (running) {
        val recs = (0 until Writer.DocsPerTick).map(i =>
          doc(g, 1000000L + tick * Writer.DocsPerTick + i, Some(Days - 1)))
        Gen.stage(s.staging, s.source, f"writer-$tick%05d.json", recs.map(_.line))
        tick += 1
        val wait = t0 + tick * Writer.TickMs - Clock.nowMs
        if (wait > 0) Thread.sleep(wait.toLong)
      }
    }, "ragbench-writer-gen")
    gen.setDaemon(true)
    gen.start()
    def stop(): Unit = { running = false; gen.join(); ctx.stopPipeline(q, th) }
  }
  object Writer { val DocsPerTick = 4; val TickMs = 1000L }

  final case class Loop(lat: Seq[Double], attempted: Long, failed: Long, problems: Seq[String],
                        lo: Double, hi: Double, reqs: Seq[(String, Double, Double, QueryExecution)])

  /** Closed loop, one client: the next request starts when the previous one
    * has returned, for `seconds`. Checked once the loop is over, so the
    * brute force takes no time from the client: a request fails if it
    * threw, returned other than k distinct ids, or (for the cosine kinds)
    * ranks the snapshot's documents differently from the brute force. */
  def loop(ctx: Ctx, s: QuerySetup, specs: IndexedSeq[QSpec], snap: IndexedSeq[SnapDoc],
           seconds: Double, tag: String, keep: Boolean): Loop = {
    val done = scala.collection.mutable.ArrayBuffer.empty[(QSpec, Either[Exception, Seq[String]])]
    val lat = scala.collection.mutable.ArrayBuffer.empty[Double]
    val reqs = scala.collection.mutable.ArrayBuffer.empty[(String, Double, Double, QueryExecution)]
    val lo = Clock.nowMs
    val until = lo + seconds * 1000
    while (Clock.nowMs < until) {
      val q = specs(done.size % specs.size)
      val group = s"$tag-${done.size}"
      if (keep) ctx.spark.sparkContext.setJobGroup(group, group, interruptOnCancel = false)
      val t0 = Clock.nowMs
      val res = try Right(request(ctx, s.table, q)) catch { case e: Exception => Left(e) }
      val t1 = Clock.nowMs
      if (keep) ctx.spark.sparkContext.clearJobGroup()
      lat += t1 - t0
      done += ((q, res.map(_._1)))
      res.foreach { case (_, qe) => if (keep) reqs += ((group, t0, t1, qe)) }
    }
    val hi = Clock.nowMs
    val snapIds = snap.map(_.id).toSet
    val bad = done.toSeq.flatMap {
      case (_, Left(e)) => Some(s"request threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      case (q, Right(ids)) =>
        if (ids.size != K || ids.distinct.size != K) Some(s"${Kinds(q.kind)} returned ${ids.size} ids")
        else if (q.kind < 2) {
          val mine = Check.topk(ids.filter(snapIds), ctx.inject)
          if (mine != expected(snap, q).take(mine.size)) Some(s"${Kinds(q.kind)} ranks the snapshot differently")
          else None
        } else None
    }
    Loop(lat.toSeq, done.size.toLong, bad.size.toLong, bad.take(5), lo, hi, reqs.toSeq)
  }

  /** Before the writer starts: every kind must return exactly the brute
    * force's ids on the setup snapshot. */
  def snapshotCheck(ctx: Ctx, s: QuerySetup, specs: IndexedSeq[QSpec],
                    snap: IndexedSeq[SnapDoc], perKind: Int): (Long, Long, Seq[String]) = {
    val picked = Kinds.indices.flatMap(k => specs.filter(_.kind == k).take(perKind))
    val bad = picked.flatMap { q =>
      val (got, want) = (Check.topk(request(ctx, s.table, q)._1, ctx.inject), expected(snap, q))
      if (got == want) None
      else Some(s"${Kinds(q.kind)} on the snapshot: got ${got.take(3)}…, want ${want.take(3)}…")
    }
    (picked.size.toLong, bad.size.toLong, bad.take(5))
  }

  def run(ctx: Ctx): Outcome = {
    val (setupS, s) = Main.setupTimed(ctx)(() => build(ctx), (_: QuerySetup) => ())
    Log.phase("table built")
    val specs = this.specs(ctx, 3000)
    val snap = snapshot(ctx, s.table)
    val (sAtt, sFail, sProb) = snapshotCheck(ctx, s, specs, snap, if (ctx.tiny) 1 else 3)
    Log.phase("snapshot checked")
    val overhead = if (ctx.traced) pairedOverhead(ctx, s, specs) else 0.0
    val writer = new Writer(ctx, s)
    // untimed warm-up with the writer running: the first few dozen requests
    // run before the JIT has compiled the planner's hot paths
    val (warm, plain) = try {
      val w = loop(ctx, s, specs, snap, if (ctx.tiny) 1.0 else WarmS, "warm", keep = false)
      Log.phase(s"warm-up done: ${w.attempted} requests")
      (w, loop(ctx, s, specs, snap, ctx.seconds, "plain", keep = false))
    } catch { case e: Throwable => writer.stop(); throw e }
    val base = Outcome(sAtt + warm.attempted + plain.attempted, sFail + warm.failed + plain.failed,
      Map("setup_s" -> setupS,
        "throughput" -> plain.attempted / ((plain.hi - plain.lo) / 1000),
        "latency_p50_ms" -> Stats.median(plain.lat),
        "latency_tail_ms" -> Stats.pct(plain.lat, 90)),
      Map.empty, Map("latency_samples" -> plain.lat.size.toDouble, "tail_percentile" -> 90.0) ++
        Outcome.percentiles(plain.lat),
      sProb ++ warm.problems ++ plain.problems)
    Log.phase(s"timed loop done: ${plain.attempted} requests")
    plain.lat.grouped(20).zipWithIndex.foreach { case (xs, i) =>
      Log.phase(f"requests ${i * 20}%3d+: p50 ${Stats.median(xs)}%.0f ms, p90 ${Stats.pct(xs, 90)}%.0f ms")
    }
    if (!ctx.traced) { writer.stop(); Log.phase("writer stopped"); base }
    else {
      ctx.trace(true)
      val traced = try loop(ctx, s, specs, snap, ctx.seconds, "traced", keep = true)
        finally writer.stop()
      val layers = queryLayers(ctx, traced, writer.queryId)
      ctx.trace(false)
      val iso = isolated(ctx, s, specs)
      ctx.restart(1)
      val single = loop(ctx, s, specs, snap, math.min(ctx.seconds, 5).toDouble, "single", keep = false)
      base.withLayers(layers ++ iso ++ Map(
        "single.throughput" -> single.attempted / ((single.hi - single.lo) / 1000),
        "single.latency_p50_ms" -> Stats.median(single.lat),
        "trace.overhead_pct" -> overhead))
        .add(traced.attempted + single.attempted, traced.failed + single.failed,
          traced.problems ++ single.problems)
    }
  }

  /** Tracing overhead from requests run in pairs, untraced then traced, on
    * the setup snapshot: the timed loops run on a table the writer keeps
    * growing, so comparing them would mix in the growth. */
  private def pairedOverhead(ctx: Ctx, s: QuerySetup, specs: IndexedSeq[QSpec]): Double = {
    def once(q: QSpec, traced: Boolean): Double = {
      ctx.trace(traced)
      val t0 = Clock.nowMs
      if (traced) ctx.spark.sparkContext.setJobGroup("pair", "pair", interruptOnCancel = false)
      try request(ctx, s.table, q) finally ctx.spark.sparkContext.clearJobGroup()
      Clock.nowMs - t0
    }
    // alternate which side runs first, so JIT warm-up favours neither
    val pairs = specs.take(if (ctx.tiny) 4 else 12).zipWithIndex.map { case (q, i) =>
      if (i % 2 == 0) { val p = once(q, traced = false); (p, once(q, traced = true)) }
      else { val t = once(q, traced = true); (once(q, traced = false), t) }
    }
    ctx.trace(false)
    Ingest.overheadPct(Stats.median(pairs.map(_._1)), Stats.median(pairs.map(_._2)))
  }

  private def queryLayers(ctx: Ctx, l: Loop, writerId: String): Map[String, Double] = {
    ctx.drain()
    val groups = l.reqs.map(_._1).toSet
    val jobs = ctx.sparkProbe.jobsWhere(j => groups(j.group))
    val stages = ctx.sparkProbe.stagesOf(jobs)
    val n = math.max(l.reqs.size, 1).toDouble
    val planMs = l.reqs.map { case (_, _, _, qe) =>
      qe.tracker.phases.values.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum
    }
    val files = l.reqs.map { case (_, _, _, qe) => PlanWalk.filesRead(qe).toDouble }
    val busy = l.reqs.map { case (_, a, b, _) => b - a }.sum * ctx.cpus
    val wb = ctx.streamProbe.of(writerId).filter(b => b.start >= l.lo && b.start < l.hi)
    val spans = ctx.spans.all ++
      l.reqs.map { case (g, a, b, _) => Span(g, "ops.request", Depth.Batch, a, b) } ++
      Probes.sparkSpans(jobs, stages, "functions.stage")
    Trace.write(spans, l.lo, l.hi)
    Map(
      "ops.plan_ms_mean" -> Stats.mean(planMs),
      "ops.jobs_per_query" -> jobs.size / n,
      "ops.stages_per_query" -> stages.size / n,
      "ops.tasks_per_query" -> stages.map(_.tasks).sum / n,
      "ops.scan_bytes" -> stages.map(_.inputBytes).sum / n,
      "ops.files_scanned" -> Stats.mean(files),
      "ops.shuffle_bytes" -> stages.map(_.shuffleBytes).sum / n,
      "ops.spill_bytes" -> stages.map(_.spillBytes).sum / n,
      "ops.task_busy_ratio" -> (if (busy == 0) 0.0 else stages.map(_.runMs).sum / busy),
      "writer.ingest_rps" -> wb.map(_.rows).sum / ((l.hi - l.lo) / 1000),
      "writer.batch_ms_p50" -> Stats.median(wb.map(_.ms("triggerExecution").toDouble))) ++
      Trace.selfMetrics(Spans.selfTimes(spans, l.lo, l.hi), l.hi - l.lo)
  }

  /** Each request kind timed alone (median of three) once the writer has
    * stopped. */
  private def isolated(ctx: Ctx, s: QuerySetup, specs: IndexedSeq[QSpec]): Map[String, Double] =
    Kinds.indices.map { k =>
      val q = specs.find(_.kind == k).get
      val ms = (0 until 3).map { _ =>
        val t0 = Clock.nowMs
        request(ctx, s.table, q)
        val t1 = Clock.nowMs
        ctx.spans.add(Span(s"isolated.${Kinds(k)}", "isolated", Depth.Batch, t0, t1))
        t1 - t0
      }
      s"ops.${Kinds(k)}_ms" -> Stats.median(ms)
    }.toMap
}
