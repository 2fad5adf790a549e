package graft.pipeline

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.embed.{EmbeddingModels, StubEmbeddingProvider}

object PipelineSpec {
  /** Fails every text containing "poison"; texts containing "flaky" fail
    * twice then succeed (per-JVM attempt counter — single-JVM test only).
    * Top-level object: a spec-nested one would drag the non-serializable
    * suite into the task closure. */
  object FlakyProvider extends graft.embed.EmbeddingProvider {
    override val dim: Int = 8
    private val attempts = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    override def embed(text: String): graft.embed.EmbeddingResult = {
      if (text.contains("poison")) throw new RuntimeException("provider 500: permanent")
      if (text.contains("flaky")) {
        val n = attempts.merge(text, 1, (a, b) => a + b)
        if (n <= 2) throw new RuntimeException(s"provider 503: transient (attempt $n)")
      }
      graft.embed.EmbeddingResult(Array.fill(dim)(0.5f), 1)
    }
  }
}

class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // FIXTURES.md A1 fixture set
  private val wireLines = Seq(
    """{"text": "Hello World", "created_at": "2024-01-01T12:00:00.000Z"}""",
    """{"text": "", "created_at": "2024-01-01T12:00:01.000Z"}""",           // empty → dropped
    """{"text": "   ", "created_at": "2024-01-01T12:00:02.000Z"}""",        // whitespace → kept!
    """{"created_at": "2024-01-01T12:00:03.000Z"}""",                        // missing text → dropped
    """{"text": "no date"}""",                                               // missing created_at → kept
    """not json at all""",                                                   // corrupt → dead letter
    """{"text": "extra", "created_at": "2024-01-01T12:00:04.000Z", "unknown": 1}""")

  test("parse routes corrupt records to dead letters, keeps the rest") {
    val raw = wireLines.toDF("value")
    val parsed = RagPipeline.parseWire(raw)
    assert(RagPipeline.deadLetters(parsed).count() === 1)
    assert(parsed.filter($"_corrupt_record".isNull).count() === 6)
  }

  test("filter keeps whitespace-only text (reference isEmpty semantics)") {
    val raw = wireLines.toDF("value")
    val kept = RagPipeline.filterNonEmpty(RagPipeline.enrich(RagPipeline.parseWire(raw)))
    val texts = kept.select("text").as[String].collect().toSet
    assert(texts === Set("Hello World", "   ", "no date", "extra"))
  }

  test("chunked batch: passages embed as their own documents with lineage ids") {
    val words = (0 until 70).map(i => s"w$i").mkString(" ")
    val raw = Seq(
      s"""{"text": "$words", "created_at": "2024-01-01T12:00:00.000Z"}""",
      """{"text": "   ", "created_at": "2024-01-01T12:00:01.000Z"}"""  // token-empty → no passages
    ).toDF("value")
    val out = RagPipeline.batch(raw, StubEmbeddingProvider("titan-v2"),
      chunking = Some((32, 32)))
    val rows = out.select($"_id", $"text", $"passage_embedding", $"date")
      .collect().sortBy(_.getString(0))
    // 70 tokens at size=stride=32 → starts 0,32,64 → 32+32+6 tokens
    assert(rows.length === 3, "whitespace-only doc must yield no passages")
    val suffixes = rows.map(_.getString(0).split("#")(1)).toSeq
    assert(suffixes === Seq("0", "1", "2"))
    assert(rows.map(_.getString(0).split("#")(0)).distinct.length === 1)
    val texts = rows.map(_.getString(1))
    assert(texts(0) === (0 until 32).map(i => s"w$i").mkString(" "))
    assert(texts(2) === (64 until 70).map(i => s"w$i").mkString(" "))
    rows.foreach { r =>
      assert(r.getSeq[Float](2).length === EmbeddingModels.dimOf("titan-v2"))
      assert(r.getTimestamp(3) !== null)
    }
  }

  test("enrich assigns unique uuid-v4 _ids") {
    val raw = wireLines.toDF("value")
    val ids = RagPipeline.enrich(RagPipeline.parseWire(raw))
      .select("_id").as[String].collect()
    assert(ids.distinct.length === ids.length)
    ids.foreach(id => assert(id.matches(
      "[0-9a-f]{8}-[0-9a-f]{4}-4[0-9a-f]{3}-[89ab][0-9a-f]{3}-[0-9a-f]{12}")))
  }

  test("stub embedder: deterministic, correct dims, reference token count") {
    val p1 = StubEmbeddingProvider("titan-v1")
    val p2 = StubEmbeddingProvider("titan-v2")
    assert(p1.dim === 1536 && p2.dim === 1024)
    assert(EmbeddingModels.registry("titan-v1")._1 === "amazon.titan-embed-text-v1")
    assert(EmbeddingModels.registry("titan-v2")._1 === "amazon.titan-embed-text-v2:0")
    val a = p1.embed("Hello World"); val b = p1.embed("Hello World")
    assert(a.embedding.toSeq == b.embedding.toSeq, "stub must be deterministic")
    assert(a.embedding.length === 1536)
    assert(a.inputTextTokenCount === 2)
    assert(p1.embed("different text").embedding.toSeq != a.embedding.toSeq)
    assert(a.embedding.forall(v => v >= -0.25f && v < 0.25f))
  }

  test("batch pipeline end-to-end: sink doc shape (FIXTURES A4)") {
    val raw = wireLines.toDF("value")
    val docs = RagPipeline.batch(raw, StubEmbeddingProvider("titan-v2"))
    assert(docs.columns.toSeq === Seq("passage_embedding", "date", "text", "_id"))
    val rows = docs.collect()
    assert(rows.length === 4)
    val hello = rows.find(_.getString(2) == "Hello World").get
    assert(hello.getSeq[Float](0).length === 1024)
    assert(hello.getTimestamp(1).toInstant.toString === "2024-01-01T12:00:00Z")
    // missing created_at → null date survives (dead-letter-free semantics)
    assert(rows.count(_.isNullAt(1)) === 1)
  }

  test("flagship entry returns top-10 with scores") {
    val out = graft.SparkEntry.entry(spark)
    val rows = out.collect()
    assert(rows.length === 10)
    assert(out.columns.toSeq === Seq("_id", "text", "score"))
  }

  test("embedSafe: failures dead-letter, transients retry, successes embed, job survives") {
    import PipelineSpec.FlakyProvider
    val enriched = Seq(
      ("good text", "2024-01-01T00:00:00.000Z", "id-good"),
      ("poison pill", "2024-01-01T00:00:00.000Z", "id-poison"),
      ("flaky once", "2024-01-01T00:00:00.000Z", "id-flaky"))
      .toDF("text", "created_at", "_id")
    val attempts = RagPipeline.embedSafe(enriched, FlakyProvider,
      graft.embed.RetryPolicy(maxAttempts = 3, initialBackoffMs = 1))
    val dead = RagPipeline.embedDeadLetters(attempts).collect()
    assert(dead.length === 1)
    assert(dead(0).getAs[String]("_id") === "id-poison")
    assert(dead(0).getAs[String]("embed_error").contains("provider 500"))
    assert(dead(0).getAs[String]("embed_error").contains("after 3 attempts"))
    val ok = RagPipeline.embedSuccesses(attempts).collect()
    assert(ok.map(_._id).toSet === Set("id-good", "id-flaky"))
    assert(ok.forall(_.embedding.length === 8))
    // embed (no dead letters) runs the same retrying loop: a transient
    // failure recovers instead of failing the task
    val viaEmbed = RagPipeline.embed(
      Seq(("flaky via embed", "2024-01-01T00:00:00.000Z", "id-flaky-embed"))
        .toDF("text", "created_at", "_id"), FlakyProvider).collect()
    assert(viaEmbed.map(_._id).toSeq === Seq("id-flaky-embed"))
  }

  test("kafka options builder: structural keys protected, SASL passthrough") {
    val opts = RagPipeline.kafkaOptions(
      "b-1.msk:9098,b-2.msk:9098", "rag-events", "latest",
      Map(
        "kafka.security.protocol" -> "SASL_SSL",
        "kafka.sasl.mechanism" -> "AWS_MSK_IAM",
        "maxOffsetsPerTrigger" -> "10000",
        "subscribe" -> "evil-override"))  // must NOT win
    assert(opts("kafka.bootstrap.servers") === "b-1.msk:9098,b-2.msk:9098")
    assert(opts("subscribe") === "rag-events")
    assert(opts("startingOffsets") === "latest")
    assert(opts("kafka.security.protocol") === "SASL_SSL")
    assert(opts("kafka.sasl.mechanism") === "AWS_MSK_IAM")
    assert(opts("maxOffsetsPerTrigger") === "10000")
    intercept[IllegalArgumentException](RagPipeline.kafkaOptions("", "t"))
    // wire-parse stage reuse: the kafka value column feeds parseWire as-is.
    // Integration against a live broker is excused — no broker (and no
    // spark-sql-kafka connector jar) exists in this sandbox.
    val parsed = RagPipeline.parseWire(wireLines.toDF("value"))
    assert(parsed.columns.contains("text"))
  }

  test("idempotent sink: replaying a batch does not duplicate rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vt").toString
    val docs = RagPipeline.batch(wireLines.toDF("value"), StubEmbeddingProvider("titan-v2"))
    graft.sink.VectorTable.appendIdempotent(docs, dir, batchId = 0)
    graft.sink.VectorTable.appendIdempotent(docs, dir, batchId = 1)
    val n = graft.sink.VectorTable.readBatched(spark, dir).count()
    // at-least-once replay of batch 1: same data, same batch id → overwrite
    graft.sink.VectorTable.appendIdempotent(docs, dir, batchId = 1)
    assert(graft.sink.VectorTable.readBatched(spark, dir).count() === n)
  }

  test("compaction folds batch dirs into the daily layout, content preserved") {
    val batched = java.nio.file.Files.createTempDirectory("graft-vt-b").toString
    val compacted = java.nio.file.Files.createTempDirectory("graft-vt-c").toString + "/t"
    val docs = RagPipeline.batch(wireLines.toDF("value"), StubEmbeddingProvider("titan-v2"))
    graft.sink.VectorTable.appendIdempotent(docs.limit(2), batched, 0)
    graft.sink.VectorTable.appendIdempotent(docs, batched, 1)
    graft.sink.VectorTable.compact(spark, batched, compacted)
    val out = graft.sink.VectorTable.read(spark, compacted)
    // batch 0 re-executed a subset of batch 1's plan — Spark's uuid() seed is
    // fixed at analysis time, so those rows carry the same _ids and
    // compaction's dedupeById folds the replayed subset: 4 rows, not 6
    assert(out.count() === 4)
    assert(out.columns.contains("date_day"))        // daily partition layout
    assert(!out.columns.contains("batch"))          // batch dirs folded away
    val texts = out.select("text").as[String].collect().toSet
    assert(texts === Set("Hello World", "   ", "no date", "extra"))
  }

  test("dedupeById keeps one row per _id") {
    val dup = Seq(("a", 1), ("a", 2), ("b", 1)).toDF("_id", "v")
    assert(graft.sink.VectorTable.dedupeById(dup).count() === 2)
  }

  test("sink bootstrap: create-if-absent is idempotent, empty table readable pre-first-batch") {
    val dir = java.nio.file.Files.createTempDirectory("graft-boot").toString + "/vt"
    val sink = graft.sink.ParquetVectorSink(dir)
    sink.bootstrap()
    sink.bootstrap() // idempotent
    val empty = graft.sink.VectorTable.readOrEmpty(spark, dir)
    assert(empty.count() === 0)
    assert(empty.columns.toSeq ===
      Seq("passage_embedding", "date", "text", "_id"))
    // once data lands, readOrEmpty is just read (sidecar doesn't interfere)
    val docs = RagPipeline.batch(wireLines.toDF("value"), StubEmbeddingProvider("titan-v2"))
    sink.append(docs)
    assert(graft.sink.VectorTable.readOrEmpty(spark, dir).count() === 4)
  }

  test("config runner: an unknown key fails validation, naming the key") {
    val base = Seq("mode=batch", "source.path=/in", "sink.dir=/out")
    PipelineConfig.parse(base :+ "kafka.option.sasl.mechanism=PLAIN").validated
    val e = intercept[IllegalArgumentException](
      PipelineConfig.parse(base :+ "embed.maxInflight=4").validated)
    assert(e.getMessage.contains("embed.maxInflight"))
  }

  test("config runner: parse, validate, batch end-to-end with dead letters") {
    intercept[IllegalArgumentException](
      PipelineConfig.parse(Seq("mode=warp")).validated)
    intercept[IllegalArgumentException](
      PipelineConfig.parse(Seq("mode=batch", "sink.dir=/x")).validated)
    val src = java.nio.file.Files.createTempDirectory("graft-src")
    java.nio.file.Files.write(src.resolve("in.jsonl"),
      wireLines.mkString("\n").getBytes("UTF-8"))
    val sink = java.nio.file.Files.createTempDirectory("graft-sink").toString + "/out"
    val dl = java.nio.file.Files.createTempDirectory("graft-dl").toString + "/dead"
    val conf = PipelineConfig.parse(Seq(
      "mode=batch", s"source.path=$src", s"sink.dir=$sink",
      s"deadletter.dir=$dl", "model=titan-v2", "embed.maxAttempts=2")).validated
    assert(conf.modelAlias === "titan-v2")
    assert(conf.retryPolicy.maxAttempts === 2)
    RunPipeline.run(spark, conf)
    val out = graft.sink.VectorTable.read(spark, sink)
    assert(out.count() === 4)   // the 4 embeddable fixture lines
    assert(out.columns.contains("passage_embedding"))
    // stub provider never fails → no dead-letter files, not even a directory
    assert(!new java.io.File(dl).exists())
  }

  test("config runner: chunk.size inserts the passage stage (O3.5)") {
    val src = java.nio.file.Files.createTempDirectory("graft-src-ck")
    val words = (0 until 50).map(i => s"w$i").mkString(" ")
    java.nio.file.Files.write(src.resolve("in.jsonl"),
      s"""{"text": "$words", "created_at": "2024-01-01T12:00:00.000Z"}"""
        .getBytes("UTF-8"))
    val sink = java.nio.file.Files.createTempDirectory("graft-sink-ck").toString + "/out"
    val conf = PipelineConfig.parse(Seq(
      "mode=batch", s"source.path=$src", s"sink.dir=$sink",
      "model=titan-v2", "chunk.size=20")).validated
    RunPipeline.run(spark, conf)
    val out = graft.sink.VectorTable.read(spark, sink).collect()
    // 50 tokens, size = stride = 20 → 3 passages of 20/20/10 tokens
    assert(out.length === 3)
    assert(out.forall(_.getAs[String]("_id").contains("#")))
    assert(out.map(r => r.getAs[String]("text").split(" ").length).sorted.toSeq
      === Seq(10, 20, 20))
  }

  test("sink.kind=http drives the network O5 from config, auth header and all") {
    val srv = new graft.sink.TestBulkServer()
    val src = java.nio.file.Files.createTempDirectory("graft-src-h")
    java.nio.file.Files.write(src.resolve("in.jsonl"),
      wireLines.mkString("\n").getBytes("UTF-8"))
    try {
      intercept[IllegalArgumentException]( // http requires endpoint + index
        PipelineConfig.parse(Seq(
          "mode=batch", s"source.path=$src", "sink.kind=http")).validated)
      val conf = PipelineConfig.parse(Seq(
        "mode=batch", s"source.path=$src", "sink.kind=http",
        s"sink.endpoint=${srv.url}", "sink.index=rag-passages",
        "sink.authHeader=Authorization: Bearer cfg-tok",
        "model=titan-v2")).validated
      RunPipeline.run(spark, conf)
      assert(srv.docs.size === 4) // the 4 embeddable fixture lines
      assert(srv.docs.values().toArray.exists(_.toString.contains("passage_embedding")))
      assert(srv.authSeen.get(0) === "Bearer cfg-tok")
    } finally srv.stop()
  }

  test("config runner: a malformed numeric key fails naming the key") {
    val conf = PipelineConfig.parse(Seq(
      "mode=batch", "source.path=/nonexistent", "sink.kind=http",
      "sink.endpoint=http://127.0.0.1:9", "sink.index=rag",
      "sink.bulkMaxDocs=abc")).validated
    val e = intercept[IllegalArgumentException](RunPipeline.run(spark, conf))
    assert(e.getMessage.contains("sink.bulkMaxDocs"), e)
  }

  test("sink.kind=memory drives a second VectorSink implementation end-to-end") {
    val src = java.nio.file.Files.createTempDirectory("graft-src-m")
    java.nio.file.Files.write(src.resolve("in.jsonl"),
      wireLines.mkString("\n").getBytes("UTF-8"))
    val table = "pipelinespec-mem-1"
    graft.sink.MemoryVectorSink.clear(table)
    val conf = PipelineConfig.parse(Seq(
      "mode=batch", s"source.path=$src", "sink.kind=memory",
      s"sink.dir=$table", "model=titan-v2")).validated
    RunPipeline.run(spark, conf)
    val rows = graft.sink.MemoryVectorSink.read(table)
    assert(rows.size === 4)
    assert(rows.head.schema.fieldNames.contains("passage_embedding"))
    // the idempotent write contract on the same backend: replay replaces
    val s2 = graft.sink.MemoryVectorSink("pipelinespec-mem-2")
    val docs = RagPipeline.batch(wireLines.toDF("value"), StubEmbeddingProvider("titan-v2"))
    s2.appendIdempotent(docs, 7L)
    s2.appendIdempotent(docs, 7L) // replayed micro-batch
    assert(graft.sink.MemoryVectorSink.read("pipelinespec-mem-2").size === 4)
    graft.sink.MemoryVectorSink.clear(table)
    graft.sink.MemoryVectorSink.clear("pipelinespec-mem-2")
  }

  test("batch dead-letters are run-scoped idempotent: rerun replaces, never appends") {
    // a permanently failing endpoint for texts starting with "dead": the
    // only way to mint real embed dead-letters through the config runner
    HttpEmbedSpec.withServer() { (url, _, _) =>
      val src = java.nio.file.Files.createTempDirectory("graft-src-dl")
      java.nio.file.Files.write(src.resolve("in.jsonl"), Seq(
        """{"text": "good doc", "created_at": "2024-01-01T12:00:00.000Z"}""",
        """{"text": "dead doc", "created_at": "2024-01-01T12:00:01.000Z"}""")
        .mkString("\n").getBytes("UTF-8"))
      val sink = java.nio.file.Files.createTempDirectory("graft-sink-dl").toString + "/out"
      val dl = java.nio.file.Files.createTempDirectory("graft-dl-dl").toString + "/dead"
      val conf = PipelineConfig.parse(Seq(
        "mode=batch", s"source.path=$src", s"sink.dir=$sink",
        s"deadletter.dir=$dl", "model=titan-v2", "embed.maxAttempts=2",
        s"embed.endpoint=$url")).validated
      RunPipeline.run(spark, conf)
      RunPipeline.run(spark, conf) // same batch re-run (operator retry)
      val dead = spark.read.parquet(dl)
      assert(dead.count() === 1, "rerun must replace the run's dead-letters")
      assert(dead.select("embed_error").as[String].head().contains("HTTP 500"))
    }
  }

  private def causes(t: Throwable): Iterator[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)

  test("config runner: without deadletter.dir a record that fails embedding fails the batch") {
    HttpEmbedSpec.withServer() { (url, _, _) =>
      val src = java.nio.file.Files.createTempDirectory("graft-src-nodl")
      java.nio.file.Files.write(src.resolve("in.jsonl"), Seq(
        """{"text": "good doc", "created_at": "2024-01-01T12:00:00.000Z"}""",
        """{"text": "dead doc", "created_at": "2024-01-01T12:00:01.000Z"}""")
        .mkString("\n").getBytes("UTF-8"))
      val sink = java.nio.file.Files.createTempDirectory("graft-sink-nodl").toString + "/out"
      val conf = PipelineConfig.parse(Seq(
        "mode=batch", s"source.path=$src", s"sink.dir=$sink", "model=titan-v2",
        "embed.maxAttempts=2", s"embed.endpoint=$url")).validated
      val e = intercept[Exception](RunPipeline.run(spark, conf))
      assert(causes(e).exists(c => String.valueOf(c.getMessage).contains("HTTP 500")), e)
    }
  }

  /** Run a streaming config through `RunPipeline.run` (which blocks until
    * its query stops) on a second thread: process everything available,
    * then stop the query. */
  private def runToCatchUp(conf: PipelineConfig): Unit = {
    val before = spark.streams.active.map(_.id).toSet
    @volatile var failure: Throwable = null
    val runner = new Thread(() =>
      try RunPipeline.run(spark, conf) catch { case e: Throwable => failure = e })
    runner.setDaemon(true)
    runner.start()
    val deadline = System.nanoTime() + 60L * 1000000000L
    def started = spark.streams.active.find(q => !before(q.id))
    while (started.isEmpty && failure == null && System.nanoTime() < deadline)
      Thread.sleep(10)
    started.foreach(q => try q.processAllAvailable() finally q.stop())
    runner.join(60000)
    if (failure != null) throw failure
    assert(!runner.isAlive, "RunPipeline.run did not return after its query stopped")
  }

  test("config runner: embed.maxInFlight bounds the embed calls in flight in streaming mode") {
    HttpEmbedSpec.withServer(latencyMs = 50) { (url, _, maxSeen) =>
      val root = java.nio.file.Files.createTempDirectory("graft-inflight")
      val src = java.nio.file.Files.createDirectories(root.resolve("src"))
      // one small file is one partition, so the per-partition bound is the
      // whole bound
      java.nio.file.Files.write(src.resolve("in.jsonl"), (1 to 12).map(i =>
          s"""{"text": "doc $i", "created_at": "2024-01-01T12:00:00.000Z"}""")
        .mkString("\n").getBytes("UTF-8"))
      val out = root.resolve("out").toString
      runToCatchUp(PipelineConfig.parse(Seq(
        "mode=streaming", s"source.path=$src", s"sink.dir=$out",
        s"checkpoint.dir=${root.resolve("ck")}", "model=titan-v2",
        s"embed.endpoint=$url", "embed.maxInFlight=1")).validated)
      assert(graft.sink.VectorTable.readBatched(spark, out).count() === 12)
      assert(maxSeen.get() === 1)
    }
  }

  test("config runner: streaming-kafka builds the configured http sink, fails only at the kafka source") {
    val ck = java.nio.file.Files.createTempDirectory("graft-kafka-ck").toString
    val conf = PipelineConfig.parse(Seq(
      "mode=streaming-kafka", "kafka.bootstrap=127.0.0.1:9092", "kafka.topic=rag",
      "sink.kind=http", "sink.endpoint=http://127.0.0.1:9", "sink.index=rag",
      s"checkpoint.dir=$ck")).validated
    // no spark-sql-kafka connector on the classpath: the data-source lookup
    // is the first step that can fail once config and sink are built
    val e = intercept[Exception](RunPipeline.run(spark, conf))
    assert(causes(e).exists(c =>
      String.valueOf(c.getMessage).contains("Failed to find data source: kafka")), e)
  }
}
