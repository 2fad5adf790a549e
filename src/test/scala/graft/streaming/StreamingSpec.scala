package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.streaming.StreamingOps.EventRow

/** Spark-diff harness (SURVEY §5.3): the same input through a stream must
  * equal the batch run of the same transform. */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** events from sf0.001, ordered by ts, split into 3 replay chunks. */
  private lazy val allEvents: Seq[EventRow] =
    graft.Tables.events(spark, TestSpark.sf)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[EventRow].collect().sortBy(_.ts.getTime).toSeq

  private def chunks: Seq[Seq[EventRow]] = {
    val n = allEvents.length
    Seq(allEvents.take(n / 3), allEvents.slice(n / 3, 2 * n / 3), allEvents.drop(2 * n / 3))
  }

  private def sentinel(offsetDays: Int = 365): EventRow =
    EventRow(-1L, new java.sql.Timestamp(
      allEvents.last.ts.getTime + offsetDays * 86400000L), -1L, "sentinel", 0.0)

  private var sinkId = 0
  private def nextSink(): String = { sinkId += 1; s"stream_sink_$sinkId" }

  /** Run a streaming transform over the chunks, return the sink table. */
  private def runStream(
      transform: DataFrame => DataFrame,
      mode: String,
      extraFinal: Seq[EventRow] = Seq.empty): DataFrame = {
    val ms = MemoryStream[EventRow](spark)
    val out = nextSink()
    val q = transform(ms.toDF()).writeStream
      .format("memory").queryName(out).outputMode(mode).start()
    try {
      chunks.foreach { c => ms.addData(c); q.processAllAvailable() }
      if (extraFinal.nonEmpty) { ms.addData(extraFinal); q.processAllAvailable() }
    } finally q.stop()
    spark.table(out)
  }

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).sorted.toSeq

  test("tumbling window agg: streaming (complete) equals batch") {
    val t: DataFrame => DataFrame = StreamingOps.tumblingAgg(_, "ts", "1 hour")
    val streamed = runStream(t, "complete")
    val batch = t(allEvents.toDF())
    assert(canon(streamed) == canon(batch))
  }

  test("sliding window agg: streaming (complete) equals batch") {
    val t: DataFrame => DataFrame = StreamingOps.slidingAgg(_, "ts", "2 hours", "1 hour")
    val streamed = runStream(t, "complete")
    assert(canon(streamed) == canon(t(allEvents.toDF())))
  }

  test("session window agg (append + watermark) equals batch") {
    val t: DataFrame => DataFrame =
      df => StreamingOps.sessionAgg(df.withWatermark("ts", "0 seconds"), "ts", "30 minutes")
    val streamed = runStream(t, "append", extraFinal = Seq(sentinel()))
      .filter($"user_id" =!= -1L)
    val batch = StreamingOps.sessionAgg(allEvents.toDF(), "ts", "30 minutes")
    assert(canon(streamed) == canon(batch))
  }

  test("watermark drops late data in append mode") {
    val t: DataFrame => DataFrame =
      df => df.withWatermark("ts", "10 minutes")
        .groupBy(window($"ts", "1 hour").as("w"))
        .agg(count(lit(1)).as("n"))
        .select($"w.start".as("w_start"), $"n")
    val ms = MemoryStream[EventRow](spark)
    val out = nextSink()
    val q = t(ms.toDF()).writeStream
      .format("memory").queryName(out).outputMode("append").start()
    try {
      ms.addData(chunks.flatten)
      q.processAllAvailable()
      ms.addData(Seq(sentinel()))          // advance watermark → close all real windows
      q.processAllAvailable()
      val lateEvent = allEvents.head.copy(event_id = -99L)  // far behind watermark
      ms.addData(Seq(lateEvent))
      q.processAllAvailable()
      ms.addData(Seq(sentinel(400)))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table(out).filter($"n" > 0)
    val batchNoLate = t(allEvents.toDF()).filter($"w_start" <= sentinel().ts)
    // late event must NOT create or update a window: streamed == batch without it
    val s = canon(streamed.filter($"w_start" < new java.sql.Timestamp(
      allEvents.last.ts.getTime + 86400000L)))
    val b = canon(batchNoLate.filter($"w_start" < new java.sql.Timestamp(
      allEvents.last.ts.getTime + 86400000L)))
    assert(s == b)
  }

  test("streaming content dedup emits each duplicated text once") {
    val docs = Seq(
      ("one fish", "2024-01-01 10:00:00"),
      ("two fish", "2024-01-01 10:01:00"),
      ("one fish", "2024-01-01 10:02:00"),   // dup, across stream chunks
      ("ONE fish  ", "2024-01-01 10:03:00")) // dup after normalization (trim+lower)
      .map { case (t, ts) => (t, java.sql.Timestamp.valueOf(ts)) }
    val ms = MemoryStream[(String, java.sql.Timestamp)](spark)
    val out = nextSink()
    val q = StreamingOps.contentDedup(
        ms.toDF().toDF("text", "ts"), "text", "ts", "1 hour")
      .writeStream.format("memory").queryName(out).outputMode("append").start()
    try {
      ms.addData(docs.take(2)); q.processAllAvailable()
      ms.addData(docs.drop(2)); q.processAllAvailable()
    } finally q.stop()
    val texts = spark.table(out).select("text").as[String].collect().toSeq
    // both dup forms collapse onto the first "one fish" → 2 unique contents
    assert(texts.sorted == Seq("one fish", "two fish"), s"got $texts")
  }

  test("stateless curation transforms (stripMarkup, piiScrub) stream ≡ batch") {
    val docs = Seq(
      (1L, "<p>mail a.b@x.org</p>"),
      (2L, "before<script>var x = 1 < 2;</script>after"),
      (3L, "T &amp; Q at 10.0.200.7"),
      (4L, "plain text"))
    val ms = MemoryStream[(Long, String)](spark)
    val out = nextSink()
    // the curation stages are plain DataFrame=>DataFrame combinators, so
    // the SAME code composes into a streaming topology unchanged
    def curate(df: org.apache.spark.sql.DataFrame) =
      graft.ops.TextAnalysis.piiScrub(
        graft.ops.TextAnalysis.stripMarkup(df.toDF("doc_id", "text"), "text")
          .select($"doc_id", $"text_plain".as("text")), "text")
        .select($"doc_id", $"n_emails", $"n_ips", $"text_scrubbed")
    val q = curate(ms.toDF())
      .writeStream.format("memory").queryName(out).outputMode("append").start()
    try {
      ms.addData(docs.take(2)); q.processAllAvailable()
      ms.addData(docs.drop(2)); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table(out).as[(Long, Int, Int, String)].collect().sortBy(_._1)
    val batch = curate(docs.toDF("doc_id", "text"))
      .as[(Long, Int, Int, String)].collect().sortBy(_._1)
    assert(streamed.toSeq === batch.toSeq)
    assert(streamed(0) === ((1L, 1, 0, "mail <EMAIL>")))
    assert(streamed(1)._4 === "before after")
    assert(streamed(2) === ((3L, 0, 1, "T & Q at <IP>")))
  }

  test("dedup within watermark: replay suppressed AND state actually evicted") {
    // plain dropDuplicates on a key-only subset would ALSO suppress every
    // replay (its state is never evicted) — what discriminates the
    // within-watermark variant is the second half: state-store rows DROP
    // once the watermark passes lastSeen + horizon, bounding state
    val ms = MemoryStream[(String, java.sql.Timestamp)](spark)
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val out = nextSink()
    val q = StreamingOps.contentDedupWithinWatermark(
        ms.toDF().toDF("text", "ts"), "text", "ts", "1 hour")
      .writeStream.format("memory").queryName(out).outputMode("append").start()
    try {
      ms.addData(Seq(("replayed doc", ts("2024-01-01 10:00:00"))))
      q.processAllAvailable()
      ms.addData(Seq(("advancer", ts("2024-01-01 10:45:00"))))
      q.processAllAvailable()
      // replay: original timestamp, behind current max event time but
      // inside the 1 h horizon → suppressed
      ms.addData(Seq(("replayed doc", ts("2024-01-01 10:00:00"))))
      q.processAllAvailable()
      val rowsBefore = q.lastProgress.stateOperators.head.numRowsTotal
      assert(rowsBefore >= 2, s"expected both keys in state, got $rowsBefore")
      // push the watermark far past every key's lastSeen + horizon; one
      // more batch lets the eviction land in the state store
      ms.addData(Seq(("far future", ts("2024-01-01 15:00:00"))))
      q.processAllAvailable()
      ms.addData(Seq(("further", ts("2024-01-01 16:00:00"))))
      q.processAllAvailable()
      // 4 distinct contents were seen; plain dropDuplicates would hold all
      // 4 in state forever. The within-watermark variant must have evicted
      // the two whose lastSeen + horizon fell behind the 15:00 watermark.
      val rowsAfter = q.lastProgress.stateOperators.head.numRowsTotal
      assert(rowsAfter <= 2,
        s"expired keys must leave the state store: $rowsBefore -> $rowsAfter (4 keys seen)")
    } finally q.stop()
    val texts = spark.table(out).select("text").as[String].collect().toSeq
    assert(texts.sorted ==
      Seq("advancer", "far future", "further", "replayed doc"), s"got $texts")
  }

  test("streaming progress exposes state-store and watermark metrics (observability)") {
    val ms = MemoryStream[EventRow](spark)
    val out = nextSink()
    val q = StreamingOps.tumblingAgg(
        ms.toDF().withWatermark("ts", "10 minutes"), "ts", "1 hour")
      .writeStream.format("memory").queryName(out).outputMode("append").start()
    try {
      ms.addData(chunks.head); q.processAllAvailable()
      ms.addData(Seq(sentinel())); q.processAllAvailable()
      val p = q.lastProgress
      assert(p != null)
      // the stateful agg reports its state store: rows kept, memory used
      assert(p.stateOperators.nonEmpty)
      assert(p.stateOperators.head.numRowsTotal > 0)
      assert(p.stateOperators.head.memoryUsedBytes > 0)
      // event-time watermark is tracked and advancing
      assert(p.eventTime.get("watermark") != null)
      assert(p.sources.nonEmpty && p.sink != null)
    } finally q.stop()
  }

  test("flatMapGroupsWithState running counters converge to batch totals") {
    val ms = MemoryStream[EventRow](spark)
    val out = nextSink()
    val q = StreamingOps.runningUserCounters(ms.toDS())
      .writeStream.format("memory").queryName(out).outputMode("update").start()
    try {
      chunks.foreach { c => ms.addData(c); q.processAllAvailable() }
    } finally q.stop()
    val finalCounts = spark.table(out)
      .groupBy("user_id").agg(max("n").as("n"))
      .as[(Long, Long)].collect().toMap
    val batchCounts = allEvents.groupBy(_.user_id).view.mapValues(_.size.toLong).toMap
    assert(finalCounts == batchCounts)
  }

  test("transformWithState (Spark 4 arbitrary-state API) equals the classic flatMapGroupsWithState") {
    // the new API requires the RocksDB state store; scope the provider to
    // this query and restore the session default afterwards
    val key = "spark.sql.streaming.stateStore.providerClass"
    val before = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[EventRow](spark)
      val out = nextSink()
      val q = StreamingOps.runningUserCountersTws(ms.toDS())
        .writeStream.format("memory").queryName(out).outputMode("update").start()
      try {
        chunks.foreach { c => ms.addData(c); q.processAllAvailable() }
      } finally q.stop()
      val finalCounts = spark.table(out)
        .groupBy("user_id").agg(max("n").as("n"), max("total").as("total"))
        .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
      val batch = allEvents.groupBy(_.user_id).view.mapValues(es =>
        (es.size.toLong, es.map(_.value).sum)).toMap
      assert(finalCounts.keySet === batch.keySet)
      finalCounts.foreach { case (u, (n, total)) =>
        assert(n === batch(u)._1, s"user $u count")
        assert(math.abs(total - batch(u)._2) < 1e-6, s"user $u total")
      }
    } finally {
      before match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("stream-static join: streaming equals batch") {
    val dim = allEvents.map(_.user_id).distinct.sorted
      .map(u => (u, if (u % 2 == 0) "even" else "odd")).toDF("user_id", "bucket")
    val t: DataFrame => DataFrame =
      df => df.join(dim, Seq("user_id"))
        .groupBy("bucket").agg(count(lit(1)).as("n"))
    val streamed = runStream(t, "complete")
    assert(canon(streamed) == canon(t(allEvents.toDF())))
  }

  test("streamingSafe: embed failures dead-letter per batch, successes flow on") {
    val srcDir = Files.createTempDirectory("graft_wire_dl").toFile.getAbsolutePath
    val outDir = Files.createTempDirectory("graft_vec_dl").toFile.getAbsolutePath + "/table"
    val dlDir = Files.createTempDirectory("graft_dl").toFile.getAbsolutePath + "/dead"
    val ckDir = Files.createTempDirectory("graft_ck_dl").toFile.getAbsolutePath
    val lines = Seq(
      """{"text": "good document one", "created_at": "2024-01-01T00:00:00.000Z"}""",
      """{"text": "a poison document", "created_at": "2024-01-01T00:00:01.000Z"}""",
      """{"text": "good document two", "created_at": "2024-01-01T00:00:02.000Z"}""")
    Files.write(java.nio.file.Paths.get(s"$srcDir/w.json"), lines.mkString("\n").getBytes)
    val query = graft.pipeline.RagPipeline.streaming(
      graft.pipeline.RagPipeline.streamingFileSource(spark, srcDir),
      graft.sink.ParquetVectorSink(outDir), ckDir, graft.pipeline.PipelineSpec.FlakyProvider,
      graft.embed.RetryPolicy(maxAttempts = 2, initialBackoffMs = 1),
      deadLetterDir = Some(dlDir))
    try query.processAllAvailable() finally query.stop()
    val ok = graft.sink.VectorTable.readBatched(spark, outDir)
    assert(ok.count() === 2)
    val dead = spark.read.option("basePath", dlDir).parquet(s"$dlDir/batch=*")
    assert(dead.count() === 1)
    assert(dead.select("embed_error").as[String].head().contains("provider 500"))
  }

  test("RAG pipeline streaming file-source equals batch, incl. incremental files") {
    val srcDir = Files.createTempDirectory("graft_wire").toFile.getAbsolutePath
    val outDir = Files.createTempDirectory("graft_vec").toFile.getAbsolutePath + "/table"
    val ckDir = Files.createTempDirectory("graft_ck").toFile.getAbsolutePath
    val docs = graft.Tables.documents(spark, TestSpark.sf).limit(40)
      .select($"text", lit("2024-01-01T12:00:00.000Z").as("created_at"))
    val lines = docs.toJSON.collect()
    Files.write(java.nio.file.Paths.get(s"$srcDir/wave1.json"),
      lines.take(20).mkString("\n").getBytes)
    val query = graft.pipeline.RagPipeline.streaming(
      graft.pipeline.RagPipeline.streamingFileSource(spark, srcDir),
      graft.sink.ParquetVectorSink(outDir), ckDir, graft.embed.StubEmbeddingProvider("titan-v2"))
    try {
      query.processAllAvailable()
      Files.write(java.nio.file.Paths.get(s"$srcDir/wave2.json"),
        lines.drop(20).mkString("\n").getBytes)
      query.processAllAvailable()
    } finally query.stop()
    val streamed = graft.sink.VectorTable.readBatched(spark, outDir)
    assert(streamed.count() === 40)
    // embeddings must equal the batch pipeline's (deterministic stub)
    val batch = graft.pipeline.RagPipeline.batch(
      docs.select(to_json(struct($"text", $"created_at")).as("value")),
      graft.embed.StubEmbeddingProvider("titan-v2"))
    val sEmb = streamed.select($"text", $"passage_embedding").as[(String, Seq[Float])]
      .collect().toMap
    val bEmb = batch.select($"text", $"passage_embedding").as[(String, Seq[Float])]
      .collect().toMap
    assert(sEmb.keySet == bEmb.keySet)
    sEmb.foreach { case (k, v) => assert(v == bEmb(k)) }
  }

  test("stream-stream interval join equals batch (state bounded by watermark)") {
    val clicks = allEvents.filter(_.event_type == "click")
    val purchases = allEvents.filter(_.event_type == "purchase")
    val cMs = MemoryStream[EventRow](spark)
    val pMs = MemoryStream[EventRow](spark)
    val out = nextSink()
    val joined = StreamingOps.intervalJoin(
      cMs.toDF(), pMs.toDF(), "user_id", "ts",
      lookback = "30 minutes", watermark = "2 hours")
    val q = joined.writeStream.format("memory").queryName(out)
      .outputMode("append").start()
    try {
      // both streams replayed in event-time order, three chunks each —
      // cross-chunk matches exercise the state store (a purchase buffered
      // in chunk 1 must match a click arriving in chunk 2)
      def third[T](xs: Seq[T], i: Int): Seq[T] = {
        val n = xs.length
        xs.slice(i * n / 3, (i + 1) * n / 3)
      }
      (0 until 3).foreach { i =>
        cMs.addData(third(clicks, i))
        pMs.addData(third(purchases, i))
        q.processAllAvailable()
      }
    } finally q.stop()
    val streamed = spark.table(out)
      .select("user_id", "l_event_id", "r_event_id")
    val batch = StreamingOps.intervalJoin(
        clicks.toDF(), purchases.toDF(), "user_id", "ts",
        lookback = "30 minutes", watermark = "2 hours")
      .select("user_id", "l_event_id", "r_event_id")
    assert(canon(streamed) == canon(batch))
    assert(batch.count() > 0, "interval join found no pairs — test data too sparse")
  }

  test("checkpoint recovery: stop mid-stream, restart, exactly-once effect end-to-end") {
    // the operational contract a replayable pipeline must honor: kill the
    // query between micro-batches, start a NEW query from the same
    // checkpoint, and the sink must hold each document exactly once —
    // source offsets come back from the checkpoint, replayed batches land
    // via the idempotent batch=<id> overwrite
    val srcDir = Files.createTempDirectory("graft-rec-src").toString
    val outDir = Files.createTempDirectory("graft-rec-out").toString + "/vt"
    val ckDir = Files.createTempDirectory("graft-rec-ck").toString
    def wireLine(i: Int) =
      s"""{"text": "recovery doc $i", "created_at": "2024-01-01T12:00:00.000Z"}"""
    def startQuery() = graft.pipeline.RagPipeline.streaming(
      graft.pipeline.RagPipeline.streamingFileSource(spark, srcDir),
      graft.sink.ParquetVectorSink(outDir), ckDir, graft.embed.StubEmbeddingProvider("titan-v2"))

    Files.writeString(java.nio.file.Path.of(srcDir, "a.jsonl"),
      (0 until 15).map(wireLine).mkString("\n"))
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()  // batch 0 committed, then "crash"

    Files.writeString(java.nio.file.Path.of(srcDir, "b.jsonl"),
      (15 until 25).map(wireLine).mkString("\n"))
    val q2 = startQuery()                            // recovers from checkpoint
    try q2.processAllAvailable() finally q2.stop()

    val out = graft.sink.VectorTable.readBatched(spark, outDir)
    assert(out.count() === 25, "restart must neither lose nor duplicate documents")
    val texts = out.select("text").as[String].collect().sorted
    assert(texts.distinct.length === 25)
  }

  test("rate source: the built-in load generator feeds the same transforms") {
    // rate-micro-batch: deterministic rowsPerBatch (unlike wall-clock
    // `rate`), so one triggered batch yields exactly 20 (timestamp, value)
    // rows — the §2b rate-source row, exercised rather than just declared
    val out = nextSink()
    val q = spark.readStream
      .format("rate-micro-batch")
      .option("rowsPerBatch", 20)
      .load()
      .groupBy().agg(count(lit(1)).as("n"), min($"value").as("lo"), max($"value").as("hi"))
      .writeStream.format("memory").queryName(out).outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.Once())
      .start()
    try q.awaitTermination(60000) finally q.stop()
    val row = spark.table(out).head()
    assert(row.getLong(0) === 20L)
    assert(row.getLong(1) === 0L && row.getLong(2) === 19L)
  }

  test("streaming chunked pipeline equals chunked batch (O3.5 parity)") {
    val srcDir = Files.createTempDirectory("graft_wire_ck").toFile.getAbsolutePath
    val outDir = Files.createTempDirectory("graft_vec_ck").toFile.getAbsolutePath + "/t"
    val ckDir = Files.createTempDirectory("graft_ck_ck").toFile.getAbsolutePath
    val docs = graft.Tables.documents(spark, TestSpark.sf).limit(15)
      .select($"text", lit("2024-01-01T12:00:00.000Z").as("created_at"))
    Files.write(java.nio.file.Paths.get(s"$srcDir/w.json"),
      docs.toJSON.collect().mkString("\n").getBytes)
    val query = graft.pipeline.RagPipeline.streaming(
      graft.pipeline.RagPipeline.streamingFileSource(spark, srcDir),
      graft.sink.ParquetVectorSink(outDir), ckDir,
      graft.embed.StubEmbeddingProvider("titan-v2"), chunking = Some((16, 16)))
    try query.processAllAvailable() finally query.stop()
    val streamed = graft.sink.VectorTable.readBatched(spark, outDir)
    val batch = graft.pipeline.RagPipeline.batch(
      docs.select(to_json(struct($"text", $"created_at")).as("value")),
      graft.embed.StubEmbeddingProvider("titan-v2"), chunking = Some((16, 16)))
    // uuids differ per run; passage text multiset + per-passage embeddings
    // (deterministic stub) must match, and ids must carry chunk suffixes
    def canonTexts(df: DataFrame) =
      df.select($"text", $"passage_embedding").as[(String, Seq[Float])]
        .collect().sortBy(_._1).toSeq
    assert(canonTexts(streamed) === canonTexts(batch))
    assert(streamed.count() > docs.count(), "chunking must expand documents")
    assert(streamed.select("_id").as[String].collect().forall(_.contains("#")))
  }

  test("streaming-maintained IVF-PQ index: foreachBatch appends, probe ≡ batch build") {
    import graft.ops.{Knn, VectorIndex}
    val emb = graft.Tables.embeddings(spark, graft.TestSpark.sf)
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])]
    val rows = emb.collect()
    val sample = rows.sortBy(_._1).take(128).map(_._2.toArray)
    val centroids = Knn.trainCentroids(sample, nCells = 16)
    val cb = Knn.trainPq(sample, m = 8, ksub = 16)
    val dir = java.nio.file.Files.createTempDirectory("graft-vidx-stream").toString
    val ms = MemoryStream[(Long, Seq[Float])](spark)
    val q = ms.toDF().toDF("vec_id", "embedding")
      .writeStream
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-vidx-ck").toString)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        VectorIndex.appendIdempotent(batch, "embedding", centroids, cb, dir, batchId)
      }
      .start()
    try {
      rows.grouped(200).foreach { g => ms.addData(g.toSeq); q.processAllAvailable() }
    } finally q.stop()
    assert(VectorIndex.read(spark, dir).count() === rows.length)
    val probeVec = rows.find(_._1 == 0L).get._2.toArray
    val viaStream = VectorIndex.probe(spark, dir, "embedding", "vec_id",
        centroids, cb, probeVec, 10, nProbe = 4, shortlist = 64)
      .select("vec_id").as[Long].collect().toSet
    val viaBatch = Knn.ivfPqSearch(
        Knn.ivfAssign(emb.toDF("vec_id", "embedding"), "embedding", centroids),
        "embedding", "vec_id", centroids, cb, probeVec, 10, nProbe = 4, shortlist = 64)
      .select("vec_id").as[Long].collect().toSet
    assert(viaStream === viaBatch)
    assert(viaStream.contains(0L))
  }

  test("streaming centroid maintenance: foreachBatch fold ≡ one-shot state over the grown corpus") {
    import graft.ops.Knn
    val emb = graft.Tables.embeddings(spark, graft.TestSpark.sf)
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])]
    val rows = emb.collect().sortBy(_._1)
    // standing quantizer trained on the base slice the stream then grows
    val base = rows.take(128).toSeq.toDF("vec_id", "embedding")
    val standing: Seq[Seq[Long]] = Knn.kmeansFit(base, "embedding", "vec_id",
        k = 8, iterations = 2)
      .orderBy("cell").as[(Int, Long, Seq[Long])].collect().map(_._3).toSeq
    // the maintenance loop: ONE bounded k×d artifact folded per
    // micro-batch (foreachBatch runs on the driver), base never rescanned
    var state = Knn.centroidBatchState(base, "embedding", standing)
    val ms = MemoryStream[(Long, Seq[Float])](spark)
    val q = ms.toDF().toDF("vec_id", "embedding")
      .writeStream
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-cm-ck").toString)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        state = state.fold(Knn.centroidBatchState(batch, "embedding", standing))
      }
      .start()
    try {
      rows.drop(128).grouped(150).foreach { g =>
        ms.addData(g.toSeq); q.processAllAvailable()
      }
    } finally q.stop()
    val grown = rows.toSeq.toDF("vec_id", "embedding")
    assert(state.sameAs(Knn.centroidBatchState(grown, "embedding", standing)))
    // refresh + audit: covers the grown corpus exactly once
    val refreshed = Knn.refreshCentroids(state, standing)
    val (nTot, nChg) = Knn.reassignmentAudit(grown, "embedding", standing,
      refreshed.map(_.toSeq).toSeq).as[(Long, Long)].head()
    assert(nTot === rows.length.toLong)
    assert(nChg >= 0L && nChg <= nTot)
  }

  test("streaming components: per-batch incremental fold ≡ batch componentsStar on all pairs") {
    import graft.ops.Graph
    // near-dup pair batches arrive over time; the standing labels fold
    // each delta through incrementalComponents (node-grain + delta-grain
    // work, old pairs never rescanned) and must equal the one-shot batch
    // contraction of everything seen — the streaming dedup-clustering loop
    def lcg(seed: Long): Iterator[Long] =
      Iterator.iterate(seed)(x => (x * 6364136223846793005L + 1442695040888963407L))
    val it = lcg(41L).map(x => java.lang.Long.remainderUnsigned(x, 200L))
    val allPairs = Seq.fill(120)((it.next(), it.next()))
    var labels = spark.emptyDataset[(Long, Long)].toDF("id", "cluster_id")
    val ms = MemoryStream[(Long, Long)](spark)
    val q = ms.toDF().toDF("id_a", "id_b")
      .writeStream
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-sc-ck").toString)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        labels = Graph.incrementalComponents(labels, batch)
          .localCheckpoint(true)
      }
      .start()
    try {
      allPairs.grouped(40).foreach { g => ms.addData(g); q.processAllAvailable() }
    } finally q.stop()
    val streamed = labels.as[(Long, Long)].collect().toMap
    val oneShot = Graph.componentsStar(allPairs.toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap
    assert(streamed === oneShot)
  }

  test("generational compaction: probes racing a live compaction never see a half-compacted cell") {
    import graft.ops.{Knn, VectorIndex}
    val emb = graft.Tables.embeddings(spark, graft.TestSpark.sf)
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])]
    val rows = emb.collect().sortBy(_._1)
    val sample = rows.take(128).map(_._2.toArray)
    val centroids = Knn.trainCentroids(sample, nCells = 16)
    val cb = Knn.trainPq(sample, m = 8, ksub = 16)
    val batched = java.nio.file.Files.createTempDirectory("graft-vidx-b").toString
    val table = java.nio.file.Files.createTempDirectory("graft-vidx-t").toString
    val probeVec = rows.find(_._1 == 0L).get._2.toArray
    def probeIds(): Seq[Long] =
      VectorIndex.probeLive(spark, batched, table, "embedding", "vec_id",
          centroids, cb, probeVec, 10, nProbe = 4, shortlist = 64)
        .select("vec_id").as[Long].collect().sorted.toSeq

    // five initial batches; the expected answer is layout-independent
    val groups = rows.grouped((rows.length + 4) / 5).toSeq
    groups.take(5).zipWithIndex.foreach { case (g, i) =>
      VectorIndex.appendIdempotent(g.toSeq.toDF("vec_id", "embedding"),
        "embedding", centroids, cb, batched, i.toLong)
    }
    val expected = probeIds()
    assert(expected.nonEmpty)

    // probes hammer the live view WHILE compaction runs: every answer must
    // equal the static expectation — a probe observing a half-published
    // generation (or double-counting folded batches) would diverge
    @volatile var compactErr: Option[Throwable] = None
    val compactor = new Thread(() => {
      try VectorIndex.compactGen(spark, batched, table, "vec_id")
      catch { case t: Throwable => compactErr = Some(t) }
    })
    compactor.start()
    var probesDuring = 0
    while (compactor.isAlive) {
      assert(probeIds() === expected, "probe diverged during compaction")
      probesDuring += 1
    }
    compactor.join()
    assert(compactErr.isEmpty, s"compaction failed: $compactErr")
    assert(probesDuring >= 1, "no probe overlapped the compaction window")
    assert(VectorIndex.latestGen(spark, table) === Some(0L))
    assert(probeIds() === expected, "post-compaction probe must be unchanged")

    // a batch appended AFTER the fold stays visible through the tail union
    // (its id is past the generation watermark)…
    val extra = rows.map { case (id, v) => (id + 1000000L, v.map(x => -x)) }
      .take(rows.length / 5)
    VectorIndex.appendIdempotent(extra.toSeq.toDF("vec_id", "embedding"),
      "embedding", centroids, cb, batched, 9L)
    val withTail = probeIds()
    val full = rows ++ extra
    val expected2 = Knn.ivfPqSearch(
        Knn.ivfAssign(full.toSeq.toDF("vec_id", "embedding"), "embedding", centroids),
        "embedding", "vec_id", centroids, cb, probeVec, 10, nProbe = 4, shortlist = 64)
      .select("vec_id").as[Long].collect().sorted.toSeq
    assert(withTail === expected2)

    // …and a second racing compaction folds it without ever disturbing
    // concurrent probes; the superseded generation is pruned eventually
    val compactor2 = new Thread(() => {
      try VectorIndex.compactGen(spark, batched, table, "vec_id")
      catch { case t: Throwable => compactErr = Some(t) }
    })
    compactor2.start()
    while (compactor2.isAlive) {
      assert(probeIds() === expected2, "probe diverged during second compaction")
    }
    compactor2.join()
    assert(compactErr.isEmpty, s"second compaction failed: $compactErr")
    assert(VectorIndex.latestGen(spark, table) === Some(1L))
    assert(probeIds() === expected2)
  }

  test("compaction skips an uncommitted batch; its rows stay visible once it commits") {
    import graft.ops.{Knn, VectorIndex}
    // tiny deterministic corpus: ids 0..39, 4-dim vectors
    val rows = (0L until 40L).map(i =>
      (i, Seq(i.toFloat, (i % 7).toFloat, (i % 3).toFloat, 1f)))
    val sample = rows.map(_._2.toArray).toArray
    val centroids = Knn.trainCentroids(sample, nCells = 4)
    val cb = Knn.trainPq(sample, m = 2, ksub = 4)
    val batched = java.nio.file.Files.createTempDirectory("graft-vidx-uc-b").toString
    val table = java.nio.file.Files.createTempDirectory("graft-vidx-uc-t").toString
    rows.grouped(10).zipWithIndex.foreach { case (g, i) =>
      VectorIndex.appendIdempotent(g.toSeq.toDF("vec_id", "embedding"),
        "embedding", centroids, cb, batched, i.toLong)
    }
    // freeze batch=3 in the exact on-disk state of an in-flight writer:
    // data files present, commit marker not yet written
    val marker = new java.io.File(s"$batched/batch=3/_SUCCESS")
    assert(marker.exists())
    assert(marker.delete())

    def liveIds(): Set[Long] =
      VectorIndex.readLive(spark, batched, table)
        .select("vec_id").as[Long].collect().toSet

    VectorIndex.compactGen(spark, batched, table, "vec_id")
    // the in-flight batch is neither folded nor read — and crucially the
    // watermark must NOT have advanced past it
    assert(liveIds() === (0L until 30L).toSet)
    // the write "commits": with batch id 3 > watermark 2, its rows surface
    // through the tail union — they'd be permanently invisible had the
    // watermark been taken from the LISTED max (the pre-fix defect)
    assert(marker.createNewFile())
    assert(liveIds() === (0L until 40L).toSet)
    // the next compaction folds it and the view is unchanged
    VectorIndex.compactGen(spark, batched, table, "vec_id")
    assert(liveIds() === (0L until 40L).toSet)
  }

  test("console sink: the debug sink accepts a triggered batch") {
    // the §2b console-sink row, exercised rather than just declared: a
    // one-batch rate stream through format("console") must complete a
    // trigger and report progress (output goes to stdout by design)
    val q = spark.readStream
      .format("rate-micro-batch")
      .option("rowsPerBatch", 3)
      .load()
      .writeStream.format("console")
      .trigger(org.apache.spark.sql.streaming.Trigger.Once())
      .start()
    try {
      q.awaitTermination(60000)
      assert(q.recentProgress.nonEmpty, "console query must record progress")
      assert(q.recentProgress.map(_.numInputRows).sum === 3L)
    } finally q.stop()
  }

  test("incremental ingest lifecycle: per-batch dedup + stats fold ≡ batch recompute") {
    // The q_ingest_bm25 composition run the way production runs it: a
    // stream of delta batches folded with foreachBatch — each batch is
    // incrementalDedup'd against the base accumulated so far, survivors
    // join the base, and ONE additive bm25Stats row is appended per batch.
    // Duplicates are planted both across batches (later batch repeats an
    // earlier batch's text) and within a batch, so both rejection paths
    // fire mid-stream. End state must equal the single-shot batch answer.
    import graft.ops.{Dedup, Retrieval}
    val terms = Seq("spark", "merge")
    def doc(i: Long, t: String) = (i, t)
    val batches: Seq[Seq[(Long, String)]] = Seq(
      Seq(doc(1, "spark merge join"), doc(2, "scan only doc"), doc(3, "spark merge join")),
      Seq(doc(4, "Spark  MERGE join"), doc(5, "fresh merge text"), doc(6, "fresh merge text")),
      Seq(doc(7, "scan only doc"), doc(8, "totally new spark row"))
    )
    val ms = MemoryStream[(Long, String)](spark)
    var base = Dedup.exactDedup(
      Seq(doc(100, "seed spark corpus"), doc(101, "seed spark corpus"))
        .toDF("doc_id", "text"), "text", "doc_id")
      .persist()
    var statsRows = Retrieval.bm25Stats(base, "text", "doc_id", terms)
    val q = ms.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val survivors = Dedup.incrementalDedup(base, batch, "text", "doc_id")
          .persist()
        survivors.count() // settle survivors before base is repointed
        statsRows = statsRows
          .unionAll(Retrieval.bm25Stats(survivors, "text", "doc_id", terms))
        base = base.unionAll(survivors)
        ()
      }
      .start()
    try {
      batches.foreach { b => ms.addData(b); q.processAllAvailable() }
    } finally q.stop()
    val merged = Retrieval.mergeStats(statsRows, terms.size)
    val viaFold = Retrieval.bm25TopKWithStats(
      base, "text", "doc_id", merged, terms, k = 10).as[(Long, Double, Int)].collect().toSeq
    // single-shot reference over everything at once
    val allDocs = (Seq(doc(100, "seed spark corpus"), doc(101, "seed spark corpus")) ++
      batches.flatten).toDF("doc_id", "text")
    val refCorpus = Dedup.exactDedup(allDocs, "text", "doc_id")
    val viaBatch = Retrieval.bm25TopK(refCorpus, "text", "doc_id", terms, k = 10)
      .as[(Long, Double, Int)].collect().toSeq
    assert(viaFold === viaBatch)
    // the fold's survivor set is exactly the batch keeper set (min-id —
    // stream order matches id order here, so first-seen IS min-id)
    assert(base.select("doc_id").as[Long].collect().sorted.toSeq ===
      refCorpus.select("doc_id").as[Long].collect().sorted.toSeq)
  }

  test("vocab-count artifact fold: per-batch appends merge ≡ batch build") {
    // The drift-monitoring member of the additive-artifact family run as a
    // stream: each micro-batch appends ONE vocab-bounded (word, cnt) slice
    // (the corpus is never rescanned), and mergeVocabCounts over the
    // accumulated slices must equal the single-shot vocabCounts of the
    // whole corpus exactly — counts are additive over disjoint slices.
    import graft.ops.CorpusStats
    val batches: Seq[Seq[(Long, String)]] = Seq(
      Seq((1L, "alpha beta beta gamma"), (2L, "beta gamma delta")),
      Seq((3L, "gamma gamma epsilon"), (4L, "alpha zeta")),
      Seq((5L, "zeta eta theta alpha beta"))
    )
    val ms = MemoryStream[(Long, String)](spark)
    var slices = spark.emptyDataset[(String, Long)].toDF("word", "cnt")
    val q = ms.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // settle the slice before the batch frame goes out of scope
        slices = slices.unionByName(
          CorpusStats.vocabCounts(batch, "text").localCheckpoint(true))
        ()
      }
      .start()
    try {
      batches.foreach { b => ms.addData(b); q.processAllAvailable() }
    } finally q.stop()
    val merged = CorpusStats.mergeVocabCounts(slices)
      .as[(String, Long)].collect().sorted.toSeq
    val batchBuild = CorpusStats.vocabCounts(
      batches.flatten.toDF("doc_id", "text"), "text")
      .as[(String, Long)].collect().sorted.toSeq
    assert(merged === batchBuild)
    assert(merged.toMap.apply("beta") === 4L, "cross-batch counts must add")
  }

  test("streaming drift monitor: KS value-count fold and PSI bucket fold ≡ batch stats") {
    // The r12 drift stack run where the reference's topology actually
    // lives — streaming: each micro-batch appends ONE collapsed-grain
    // slice (valueCountSlice for the bucket-free KS dashboard,
    // bucketCounts against FIXED baseline bounds for PSI), and the
    // monitor's read path answers from the accumulated artifacts alone.
    // Spark-diff contract: the folded stats must equal the single-shot
    // batch stats on the same data EXACTLY — counts are additive over
    // disjoint slices and everything downstream is a pure function of
    // the merged grain.
    import graft.ops.CorpusStats
    val baseline = (1L to 200L).map(i => ("s" + (i % 4), (i % 23).toDouble))
    val batches: Seq[Seq[(String, Double)]] = Seq(
      (1L to 80L).map(i => ("s" + (i % 4), (i % 19).toDouble)),
      (1L to 70L).map(i => ("s" + (i % 3), (i % 29).toDouble)),
      (1L to 50L).map(i => ("s" + (i % 4), ((i * 7) % 23).toDouble))
    )
    val bounds = {
      val (qs, _) = CorpusStats.exactQuantiles(
        baseline.toDF("source", "value"), "value", (1 to 9).map(_ / 10.0))
      qs.map(q => BigDecimal(q).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val ms = MemoryStream[(String, Double)](spark)
    var ksSlices = spark.emptyDataset[(String, Double, Long)]
      .toDF("source", "value", "cnt")
    var psiSlices = spark.emptyDataset[(Int, Long)].toDF("bucket", "cnt")
    val q = ms.toDF().toDF("source", "value").writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // settle both slices before the batch frame goes out of scope
        ksSlices = ksSlices.unionByName(
          CorpusStats.valueCountSlice(batch, "source", "value")
            .localCheckpoint(true))
        psiSlices = psiSlices.unionByName(
          CorpusStats.bucketCounts(batch, "value", bounds)
            .localCheckpoint(true))
        ()
      }
      .start()
    try {
      batches.foreach { b => ms.addData(b); q.processAllAvailable() }
    } finally q.stop()
    val allRows = batches.flatten.toDF("source", "value")
    // KS: fold over UN-merged slices ≡ batch ksStatisticBy
    val ksFold = CorpusStats.ksStatisticByFromCounts(
        ksSlices, "source", "value", "cnt")
      .orderBy("source").collect().toSeq
    val ksBatch = CorpusStats.ksStatisticBy(allRows, "source", "value")
      .orderBy("source").collect().toSeq
    assert(ksFold === ksBatch)
    assert(ksFold.nonEmpty && ksFold.forall(r => !r.isNullAt(3)))
    // PSI: merged bucket fold vs baseline ≡ batch psi over the same bounds
    val baseCounts = CorpusStats.bucketCounts(
      baseline.toDF("source", "value"), "value", bounds)
    val psiFold = CorpusStats.psiFromCounts(baseCounts,
        CorpusStats.mergeBucketCounts(psiSlices), nBuckets = 10)
      .orderBy("bucket").collect().toSeq
    val psiBatch = CorpusStats.psi(baseline.toDF("source", "value"),
        allRows, "value", nBuckets = 10)
      .orderBy("bucket").collect().toSeq
    assert(psiFold === psiBatch)
  }

  test("HLL sketch-slice fold: per-batch sketches union ≡ global sketch ≡ exact distinct") {
    // The cardinality member of the additive-artifact family as a stream:
    // one HLL sketch row per micro-batch (slice = batch id), corpus-wide
    // distinct answered by unioning the accumulated sketch rows. Values
    // repeat across batches, so the union must NOT double-count; at this
    // cardinality the lgK=12 sketch is sparse-mode exact, so the folded
    // estimate, a single global sketch, and the exact distinct all agree.
    import graft.ops.CorpusStats
    val batches: Seq[Seq[(Long, String)]] = Seq(
      Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma")),
      Seq((4L, "beta"), (5L, "delta"), (6L, "alpha")),
      Seq((7L, "epsilon"), (8L, "gamma"), (9L, "zeta"))
    )
    val ms = MemoryStream[(Long, String)](spark)
    var sketchRows = spark.emptyDataset[(Long, Array[Byte])].toDF("_slice", "sketch")
    var bid = 0L
    val q = ms.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        sketchRows = sketchRows.unionByName(
          CorpusStats.distinctSketches(
            batch.withColumn("_slice", lit(bid)), "text", "_slice")
            .localCheckpoint(true))
        bid += 1
        ()
      }
      .start()
    try {
      batches.foreach { b => ms.addData(b); q.processAllAvailable() }
    } finally q.stop()
    assert(sketchRows.count() === 3L, "one sketch row per micro-batch")
    val folded = CorpusStats.distinctFromSketches(sketchRows)
      .as[Long].head()
    val allDocs = batches.flatten.toDF("doc_id", "text")
    val global = CorpusStats.distinctFromSketches(
      CorpusStats.distinctSketches(
        allDocs.withColumn("_slice", lit(0)), "text", "_slice"))
      .as[Long].head()
    val exact = allDocs.select(countDistinct(col("text"))).as[Long].head()
    assert(folded === exact)
    assert(global === exact)
  }

  test("KLL quantile-slice fold: per-batch sketches union to the single-build contract") {
    // The rank member of the additive-artifact family as a stream: one
    // KLL sketch row per micro-batch, corpus-wide percentiles answered by
    // unioning the accumulated rows — history never re-scanned. KLL keeps
    // all values until the first compaction (k=200 ≫ n here), so the
    // folded quantiles are EXACT on this corpus, not just in-envelope.
    import graft.ops.CorpusStats
    val batches: Seq[Seq[Double]] =
      Seq((1 to 40).map(_.toDouble), (41 to 70).map(_.toDouble),
        (71 to 100).map(_.toDouble))
    val ms = MemoryStream[Double](spark)
    var sketchRows = spark.emptyDataset[(Long, Array[Byte])].toDF("_slice", "sketch")
    var bid = 0L
    val q = ms.toDF().toDF("x").writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        sketchRows = sketchRows.unionByName(
          CorpusStats.quantileSketches(
            batch.withColumn("_slice", lit(bid)), "x", "_slice")
            .localCheckpoint(true))
        bid += 1
        ()
      }
      .start()
    try {
      batches.foreach { b => ms.addData(b); q.processAllAvailable() }
    } finally q.stop()
    assert(sketchRows.count() === 3L, "one sketch row per micro-batch")
    val folded = CorpusStats
      .quantilesFromSketches(sketchRows, Seq(0.1, 0.5, 1.0))
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getLong(2))).toSeq
      .sortBy(_._1)
    assert(folded.map(_._3) === Seq(100L, 100L, 100L))
    // inclusive-rank quantiles over the intact 1..100 stream are exact
    assert(folded.map(_._2) === Seq(10.0, 50.0, 100.0))
  }

  test("incremental near-dup fold: per-batch band-table appends find every pair ≡ batch recompute") {
    // The LSH half of the ingest lifecycle as foreachBatch: each batch is
    // exact-incrementally-deduped, its survivors probe the ACCUMULATED band
    // table (the materialized artifact a standing pipeline keeps), and both
    // the corpus and the band table extend by the survivors' rows. Every
    // near-dup pair of the final corpus is cross- or within- exactly one
    // batch, so the fold's pair union must equal the single-shot batch
    // near-dup of the final deduped corpus (no star pairs — the exact fold
    // removed exact dups before banding, the operator contract).
    import graft.ops.Dedup
    val long = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    val batches: Seq[Seq[(Long, String)]] = Seq(
      Seq((1L, long), (2L, "totally unrelated words nothing shared here at all")),
      Seq((11L, long.replace("kappa", "lambda")),      // near dup of 1 (cross-batch)
          (12L, long),                                 // exact dup of 1 → dropped by exact fold
          (13L, "fresh content of the second wave distinct everywhere")),
      Seq((21L, long.replace("kappa", "lambda").replace("iota", "pi")), // near dup of 1 & 11
          (22L, "fresh content of the second wave distinct everywhere extra")) // near-ish of 13
    )
    val bandArgs = (3, 64, 32) // shingleN, numHashes, bands
    val ms = MemoryStream[(Long, String)](spark)
    var corpus = spark.emptyDataset[(Long, String)].toDF("doc_id", "text")
      .persist()
    var bandTable = Dedup.minhashBandTable(corpus, "text", "doc_id",
      bandArgs._1, bandArgs._2, bandArgs._3).persist()
    val pairs = scala.collection.mutable.Set[(Long, Long)]()
    val q = ms.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val survivors = Dedup.incrementalDedup(corpus, batch, "text", "doc_id")
          .persist()
        survivors.count()
        pairs ++= Dedup.incrementalNearDups(corpus, survivors, "text", "doc_id",
            threshold = 0.5, bandArgs._1, bandArgs._2, bandArgs._3,
            baseBandTable = Some(bandTable))
          .select("id_a", "id_b").as[(Long, Long)].collect()
        corpus = corpus.unionByName(survivors)
        // appendBandTable, NOT a bare union of a fresh slice build: the
        // union would carry slice-local _bucket_n and the saturation guard
        // would erode as appends accumulate
        bandTable = Dedup.appendBandTable(bandTable, survivors, "text", "doc_id",
          bandArgs._1, bandArgs._2, bandArgs._3)
        ()
      }
      .start()
    try {
      batches.foreach { b => ms.addData(b); q.processAllAvailable() }
    } finally q.stop()
    val ref = Dedup.minhashNearDups(corpus, "text", "doc_id",
      threshold = 0.5, bandArgs._1, bandArgs._2, bandArgs._3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.toSet === ref,
      s"fold pairs ${pairs.toSet} must equal batch recompute $ref")
    // (1,21) is deliberately ABSENT from the plant list: two substitutions
    // push its exact jaccard to ~0.43 < 0.5 — the fold must agree with the
    // batch recompute on rejections too (covered by the set equality above)
    assert(pairs.contains((1L, 11L)) && pairs.contains((11L, 21L)) &&
      pairs.contains((13L, 22L)), "planted cross-batch near dups found")
  }
  test("daily-count artifact fold: per-batch slices merge ≡ batch CUSUM") {
    // The monitoring member of the additive-artifact family: each
    // micro-batch contributes one (type, day, x) slice; the accumulated
    // artifact re-derives the FULL exact CUSUM trajectory without ever
    // rescanning events — counts are additive over disjoint slices, and
    // cusumFromDaily is a pure function of the folded table.
    import graft.ops.Funnel
    val batches: Seq[Seq[(Long, String, Long)]] = Seq(
      (1 to 40).map(i => (i.toLong, "a", (i % 5).toLong + 1)),
      (41 to 80).map(i => (i.toLong, "a", (i % 3).toLong + 1)),
      (81 to 120).map(i => (i.toLong, if (i % 4 == 0) "b" else "a",
        (i % 7).toLong + 1))
    )
    def toDf(xs: Seq[(Long, String, Long)]) =
      xs.toDF("event_id", "event_type", "d")
        .withColumn("ts", expr("timestamp_micros(d * 86400000000)")).drop("d")
    val ms = MemoryStream[(Long, String, Long)](spark)
    var slices = spark.emptyDataset[(String, java.sql.Date, Long)]
      .toDF("event_type", "day", "x")
    val q = ms.toDF().toDF("event_id", "event_type", "d").writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val b = batch.withColumn("ts",
          expr("timestamp_micros(d * 86400000000)")).drop("d")
        slices = slices.unionByName(
          Funnel.dailyCounts(b, "ts", "event_type").localCheckpoint(true))
        ()
      }
      .start()
    try {
      batches.foreach { b => ms.addData(b); q.processAllAvailable() }
    } finally q.stop()
    def canon(d: DataFrame) = d
      .select($"event_type", date_format($"day", "yyyy-MM-dd").as("day"),
        $"n_events", $"s_pos", $"s_neg", $"is_change")
      .as[(String, String, Long, Double, Double, Boolean)].collect().toSet
    val folded = Funnel.cusumFromDaily(
      Funnel.mergeDailyCounts(slices, "event_type"), "event_type", 1, 2)
    val batchRun = Funnel.cusumChangepoints(
      toDf(batches.flatten), "ts", "event_type", 1, 2)
    assert(canon(folded) === canon(batchRun))
    assert(canon(batchRun).exists(_._6), "planted drift must flag")
  }

  test("scd2 history fold: per-batch merges ≡ batch recompute") {
    // Dimension history maintained one micro-batch at a time: each batch
    // scd2Merges into the standing history (closed versions never touched,
    // the open row per affected entity stitches), and after the last batch
    // the folded history must equal the single-shot build — the
    // scd2Merge exactness contract driven through foreachBatch.
    import graft.ops.Funnel
    val rnd = new scala.util.Random(23)
    val all = (1 to 240).map { i =>
      (rnd.nextInt(6).toLong, Seq("x", "y", "z")(rnd.nextInt(3)),
        i.toLong, i.toLong)
    }
    def toDf(xs: Seq[(Long, String, Long, Long)]) =
      xs.toDF("user_id", "attr", "t", "event_id")
        .withColumn("ts", expr("timestamp_micros(t * 1000000)")).drop("t")
    val ms = MemoryStream[(Long, String, Long, Long)](spark)
    var history = Funnel.scd2History(toDf(Seq.empty),
      "user_id", "attr", "ts", "event_id").localCheckpoint(true)
    val q = ms.toDF().toDF("user_id", "attr", "t", "event_id").writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val b = batch.withColumn("ts",
          expr("timestamp_micros(t * 1000000)")).drop("t")
        history = Funnel.scd2Merge(history, b,
          "user_id", "attr", "ts", "event_id").localCheckpoint(true)
        ()
      }
      .start()
    try {
      all.grouped(80).foreach { b => ms.addData(b); q.processAllAvailable() }
    } finally q.stop()
    def canon(d: DataFrame) = d
      .select($"user_id", $"attr", date_format($"valid_from", "HH:mm:ss").as("f"),
        date_format($"valid_to", "HH:mm:ss").as("t"), $"version")
      .as[(Long, String, String, String, Int)].collect().toSet
    assert(canon(history) ===
      canon(Funnel.scd2History(toDf(all), "user_id", "attr", "ts", "event_id")))
  }

  test("snapshot-diff → scd2Merge lifecycle: periodic snapshots fold to the change-log history") {
    // The upstream can't emit changes — only periodic full snapshots.
    // Each arriving snapshot diffs against the previous one; `added ∪
    // changed` rows (stamped with the snapshot time) scd2Merge into the
    // standing history. After the last snapshot the folded history must
    // equal scd2History over the equivalent change log: one event per
    // (entity, snapshot) at which its attribute appeared or changed.
    import graft.ops.Funnel
    // entity e's attribute at snapshot t (deterministic, with real runs)
    def attrAt(e: Long, t: Long): String = Seq("x", "y", "z")(((e + t) / 3 % 3).toInt)
    val entities = 0L until 12L
    val snaps = (1L to 6L).map { t =>
      t -> entities.filter(e => (e + t) % 11 != 0)  // some keys absent per snap
        .map(e => (e, attrAt(e, t))).toSeq
    }
    def snapDf(rows: Seq[(Long, String)]) = rows.toDF("id", "attr")
    var prev = snapDf(Seq.empty)
    var history = Funnel.scd2History(
      Seq.empty[(Long, String, Long, Long)].toDF("id", "attr", "t", "tie")
        .withColumn("ts", expr("timestamp_micros(t)")).drop("t"),
      "id", "attr", "ts", "tie").localCheckpoint(true)
    for ((t, rows) <- snaps) {
      val cur = snapDf(rows)
      val delta = Funnel.snapshotDiff(prev, cur, "id", Seq("attr"))
        .filter($"change_type".isin("added", "changed"))
        .select($"id", $"attr",
          expr(s"timestamp_micros(${t * 1000000L}L)").as("ts"),
          $"id".as("tie"))
      history = Funnel.scd2Merge(history, delta, "id", "attr", "ts", "tie")
        .localCheckpoint(true)
      prev = cur
    }
    // equivalent change log: for each snapshot, entities whose attr is new
    // or different from their previous PRESENT state
    val log = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
    val state = scala.collection.mutable.Map.empty[Long, String]
    for ((t, rows) <- snaps; (e, a) <- rows)
      if (!state.get(e).contains(a)) { state(e) = a; log += ((e, a, t)) }
    val batch = Funnel.scd2History(
      log.toSeq.toDF("id", "attr", "t")
        .withColumn("ts", expr("timestamp_micros(t * 1000000)"))
        .withColumn("tie", $"id").drop("t"),
      "id", "attr", "ts", "tie")
    def canon(d: DataFrame) = d
      .select($"id", $"attr", $"valid_from".cast("long"),
        $"valid_to".cast("long"), $"version")
      .as[(Long, String, Long, Option[Long], Int)].collect().toSet
    assert(canon(history) === canon(batch))
  }

  test("incremental ER lifecycle: repeated label folds ≡ one-shot components over all pairs") {
    // Entity batches land one at a time: each fold pairs the delta against
    // the accumulated base through the sorted-key artifact, scores, and
    // folds into the STANDING labels. After the last batch, the repeatedly-
    // folded label table must equal clusterLabels run once over every pair
    // ever found — the associativity a production linkage pipeline rests on.
    import graft.ops.Dedup
    val rnd = new scala.util.Random(19)
    val all = (1L to 150L).map { i =>
      (i, (1 to 3).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString)
    }
    val batches = all.grouped(50).toSeq
    def matched(pairs: DataFrame) = pairs
      .filter(levenshtein($"key_a", $"key_b") <= 1)
      .select($"id_a", $"id_b")
    var base = batches.head.toDF("id", "k")
    val first = matched(Dedup.sortedNeighborPairs(base, "k", "id", window = 3))
      .localCheckpoint(true)
    var labels = Dedup.clusterLabels(first)
    var allPairs = first.as[(Long, Long)].collect().toSet
    for (b <- batches.tail) {
      val delta = b.toDF("id", "k")
      val idx = Dedup.snmIndex(base, "k", "id", bucketSize = 4)
      val newPairs = matched(Dedup.incrementalSnmPairs(idx, delta, "k", "id",
        window = 3, bucketSize = 4)).localCheckpoint(true)
      labels = Dedup.foldClusterLabels(labels, newPairs).localCheckpoint(true)
      allPairs ++= newPairs.as[(Long, Long)].collect()
      base = base.unionByName(delta).localCheckpoint(true)
    }
    val oneShot = Dedup.clusterLabels(
      allPairs.toSeq.toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toSet
    assert(labels.as[(Long, Long)].collect().toSet === oneShot)
  }

  test("streaming PIT enrichment: per-batch probes against the folded history ≡ batch PIT") {
    // The lookup side of the dimension lifecycle: each micro-batch FIRST
    // folds into the standing history (scd2Merge), THEN its own probe
    // rows point-in-time join against the history-so-far. Because the
    // stream arrives in timestamp order (the scd2Merge watermark
    // contract), no later batch can rewrite a version that was active at
    // an earlier probe — so the concatenated per-batch enrichments must
    // equal the one-shot PIT join of all probes against the full history.
    import graft.ops.Funnel
    val rnd = new scala.util.Random(29)
    val all = (1 to 240).map { i =>
      (rnd.nextInt(6).toLong, Seq("x", "y", "z")(rnd.nextInt(3)),
        i.toLong, i.toLong)
    }
    def toDf(xs: Seq[(Long, String, Long, Long)]) =
      xs.toDF("user_id", "attr", "t", "event_id")
        .withColumn("ts", expr("timestamp_micros(t * 1000000)")).drop("t")
    val ms = MemoryStream[(Long, String, Long, Long)](spark)
    var history = Funnel.scd2History(toDf(Seq.empty),
      "user_id", "attr", "ts", "event_id").localCheckpoint(true)
    var enriched = Seq.empty[(Long, Long, String, Int)]
    val q = ms.toDF().toDF("user_id", "attr", "t", "event_id").writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val b = batch.withColumn("ts",
          expr("timestamp_micros(t * 1000000)")).drop("t")
        history = Funnel.scd2Merge(history, b,
          "user_id", "attr", "ts", "event_id").localCheckpoint(true)
        val probes = b.select($"user_id", $"ts", $"event_id".as("probe_id"))
        enriched = enriched ++ Funnel
          .pointInTimeJoin(probes, history, "user_id", "ts", "attr")
          .select($"user_id", $"probe_id", $"active_attr", $"version")
          .as[(Long, Long, String, Int)].collect()
        ()
      }
      .start()
    try {
      all.grouped(60).foreach { b => ms.addData(b); q.processAllAvailable() }
    } finally q.stop()
    val batchPit = Funnel.pointInTimeJoin(
        toDf(all).select($"user_id", $"ts", $"event_id".as("probe_id")),
        Funnel.scd2History(toDf(all), "user_id", "attr", "ts", "event_id"),
        "user_id", "ts", "attr")
      .select($"user_id", $"probe_id", $"active_attr", $"version")
      .as[(Long, Long, String, Int)].collect()
    assert(enriched.toSet === batchPit.toSet)
    assert(enriched.size === batchPit.length, "no duplicate enrichments")
  }

  test("theta sketch-slice fold: per-batch set sketches answer overlap ≡ exact sets") {
    // The set-algebra member of the additive-artifact family as a stream:
    // one theta sketch row per (micro-batch, week); the accumulated rows
    // union per week, and week-over-week intersections answer retention
    // from artifacts alone. Cardinalities are exact-mode, so the folded
    // answers equal the true set counts.
    import graft.functions.ThetaExpressions._
    val batches: Seq[Seq[(Long, Int)]] = Seq(
      (1L to 60L).map(u => (u, 0)) ++ (30L to 80L).map(u => (u, 1)),
      (40L to 90L).map(u => (u, 0)),      // late arrivals for week 0
      (81L to 120L).map(u => (u, 1))
    )
    val ms = MemoryStream[(Long, Int)](spark)
    var slices = spark.emptyDataset[(Int, Array[Byte])].toDF("week", "sk")
    val q = ms.toDF().toDF("user_id", "week").writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        slices = slices.unionByName(
          batch.groupBy($"week").agg(thetaSketchAgg($"user_id").as("sk"))
            .localCheckpoint(true))
        ()
      }
      .start()
    try {
      batches.foreach { b => ms.addData(b); q.processAllAvailable() }
    } finally q.stop()
    val weekly = slices.groupBy($"week").agg(thetaUnionAgg($"sk").as("sk"))
    val w0 = weekly.filter($"week" === 0).select($"sk").head().getAs[Array[Byte]](0)
    val w1 = weekly.filter($"week" === 1).select($"sk").head().getAs[Array[Byte]](0)
    val r = spark.range(1).select(
        round(thetaEstimate(thetaIntersect(lit(w0), lit(w1)))).cast("long"),
        round(thetaEstimate(thetaANotB(lit(w0), lit(w1)))).cast("long"))
      .as[(Long, Long)].head()
    // week0 = 1..90, week1 = 30..120 → ∩ = 30..90 (61), w0\w1 = 1..29 (29)
    assert(r === ((61L, 29L)))
  }

  test("artifact dashboard topology: ONE stream maintains every additive artifact, each fold ≡ batch") {
    // The q_artifact_dashboard lifecycle as a standing pipeline: one
    // foreachBatch maintains ALL five artifact families per micro-batch —
    // HLL distinct-user sketches, KLL value-quantile sketches, per-week
    // theta audience sketches, daily counts, and vocab counts — and every
    // corpus-wide answer then comes from the accumulated artifacts alone,
    // equal to the batch build over the full replayed stream.
    import graft.ops.{CorpusStats, Funnel}
    import graft.functions.ThetaExpressions._
    import graft.functions.KllExpressions._
    val ms = MemoryStream[EventRow](spark)
    var hll = spark.emptyDataset[(Long, Array[Byte])].toDF("_slice", "sketch")
    var kll = spark.emptyDataset[(Long, Array[Byte])].toDF("_slice", "sketch")
    var theta = spark.emptyDataset[(java.sql.Date, Array[Byte])].toDF("week", "sk")
    var daily = spark.emptyDataset[(String, java.sql.Date, Long)].toDF("event_type", "day", "x")
    var vocab = spark.emptyDataset[(String, Long)].toDF("word", "cnt")
    var bid = 0L
    val q = ms.toDF().writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val b = batch.withColumn("_slice", lit(bid)).localCheckpoint(true)
        hll = hll.unionByName(
          CorpusStats.distinctSketches(b, "user_id", "_slice").localCheckpoint(true))
        kll = kll.unionByName(
          CorpusStats.quantileSketches(b, "value", "_slice").localCheckpoint(true))
        theta = theta.unionByName(
          b.select(to_date(date_trunc("week", $"ts")).as("week"), $"user_id")
            .groupBy($"week").agg(thetaSketchAgg($"user_id").as("sk"))
            .localCheckpoint(true))
        daily = daily.unionByName(
          Funnel.dailyCounts(b, "ts", "event_type").localCheckpoint(true))
        vocab = vocab.unionByName(
          CorpusStats.vocabCounts(b, "event_type").localCheckpoint(true))
        bid += 1
        ()
      }
      .start()
    try {
      chunks.foreach { c => ms.addData(c); q.processAllAvailable() }
    } finally q.stop()
    val all = allEvents.toDF()
    // HLL: folded union == exact distinct (sparse-mode exact at this size)
    val exactUsers = all.select(countDistinct($"user_id")).as[Long].head()
    assert(CorpusStats.distinctFromSketches(hll).as[Long].head() === exactUsers)
    // KLL: slices exceed k=200 so compaction runs and value-level
    // equality between independent builds is not the contract — the
    // folded union must answer within the rank envelope of the TRUE
    // distribution (the q_artifact_dashboard stance), and its absorbed
    // count must be exact
    val foldedQ = CorpusStats.quantilesFromSketches(kll, Seq(0.5, 0.95))
      .orderBy("p").as[(Double, Double, Long)].collect()
    val nAll = allEvents.size.toLong
    assert(foldedQ.forall(_._3 == nAll), "folded n must be exact")
    foldedQ.foreach { case (p, v, _) =>
      val rank = allEvents.count(_.value <= v).toDouble / nAll
      assert(math.abs(rank - p) <= 0.05, s"p=$p est=$v rank=$rank")
    }
    // Theta: per-week folded estimates == exact per-week distinct counts
    val wkExact = all.select(to_date(date_trunc("week", $"ts")).as("week"), $"user_id")
      .distinct().groupBy($"week").count()
      .as[(java.sql.Date, Long)].collect().toMap
    val wkFolded = theta.groupBy($"week").agg(thetaUnionAgg($"sk").as("sk"))
      .select($"week", round(thetaEstimate($"sk")).cast("long"))
      .as[(java.sql.Date, Long)].collect().toMap
    assert(wkFolded === wkExact)
    // Daily counts: folded merge row-identical to the batch build
    val dm = Funnel.mergeDailyCounts(daily, "event_type")
      .as[(String, java.sql.Date, Long)].collect().sortBy(r => (r._1, r._2.toString))
    val db = Funnel.dailyCounts(all, "ts", "event_type")
      .as[(String, java.sql.Date, Long)].collect().sortBy(r => (r._1, r._2.toString))
    assert(dm.toSeq === db.toSeq)
    // Vocab counts: folded merge row-identical to the batch build
    val vm = CorpusStats.mergeVocabCounts(vocab)
      .as[(String, Long)].collect().sorted.toSeq
    val vb = CorpusStats.vocabCounts(all, "event_type")
      .as[(String, Long)].collect().sorted.toSeq
    assert(vm === vb)
  }

  test("PSI bucket-count artifact fold: per-batch slices merge ≡ one-shot PSI") {
    // cut points train ONCE on a baseline; the stream appends one
    // (bucket, cnt) slice per micro-batch against those FIXED bounds, and
    // psiFromCounts over the merged artifact must equal psi(baseline,
    // everything-streamed) exactly — drift monitoring never rescans
    import graft.ops.CorpusStats
    val baseDf = chunks.head.toDF().select($"value")
    val streamChunks = chunks.tail
    val bounds = CorpusStats.exactQuantiles(baseDf, "value",
        (1 until 10).map(_.toDouble / 10))._1
      .map(q => BigDecimal(q).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    val ms = MemoryStream[EventRow](spark)
    var slices = spark.emptyDataset[(Int, Long)].toDF("bucket", "cnt")
    val q = ms.toDF().writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        slices = slices.unionByName(
          CorpusStats.bucketCounts(batch.select($"value"), "value", bounds)
            .localCheckpoint(true))
        ()
      }
      .start()
    try {
      streamChunks.foreach { c => ms.addData(c); q.processAllAvailable() }
    } finally q.stop()
    val folded = CorpusStats.psiFromCounts(
        CorpusStats.bucketCounts(baseDf, "value", bounds),
        CorpusStats.mergeBucketCounts(slices), nBuckets = 10)
      .as[(Int, Long, Long, Double)].collect().sortBy(_._1).toSeq
    val oneShot = CorpusStats.psi(baseDf,
        streamChunks.flatten.toDF().select($"value"), "value", nBuckets = 10)
      .as[(Int, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(folded === oneShot)
    assert(folded.exists(_._1 == 0), "total row present")
  }

  test("unified RAG ingest topology: ONE foreachBatch maintains all seven artifact families + the idempotent sink across a mid-stream restart") {
    // The reference's actual steady state (its DataStreamJob runs ingest →
    // transform → sink forever) PLUS every artifact a production RAG
    // deployment maintains alongside the sink — run as ONE stream with ONE
    // foreachBatch body, killed between micro-batches and restarted from
    // the checkpoint. Families: (1) incremental exact dedup (base fold),
    // (2) streaming-maintained IVF-PQ vector index, (3) additive BM25
    // stats, (4) centroid maintenance state, (5) vocab drift slices,
    // (6) KN trigram-type counts (the LM's incremental seam — r18),
    // (7) NN-descent graph index via the incremental insert fold (r19) —
    // plus the idempotent batch=<id> vector-table sink. After the restart
    // finishes, EVERY folded artifact must equal its one-shot batch
    // recompute over everything that arrived.
    import graft.ops.{CorpusStats, Dedup, Knn, Retrieval, VectorIndex}
    val srcDir = Files.createTempDirectory("graft-uni-src").toString
    val ckDir = Files.createTempDirectory("graft-uni-ck").toString
    val idxDir = Files.createTempDirectory("graft-uni-idx").toString + "/idx"
    val sinkDir = Files.createTempDirectory("graft-uni-snk").toString + "/vt"
    val dim = 8
    def vec(i: Long): Seq[Float] =
      Seq.tabulate(dim)(j => math.sin(i * 1.7 + j * 0.9).toFloat)
    // 12 distinct texts over 40 docs → planted dups within AND across the
    // restart boundary; min-id keeper = first-seen (stream order = id order)
    def text(i: Long) = s"body ${i % 12} spark merge scan"
    def line(i: Long) =
      s"""{"doc_id": $i, "text": "${text(i)}", "embedding": [${vec(i).mkString(",")}]}"""
    val terms = Seq("spark", "merge")
    // standing index artifacts: quantizer + codebooks + integer-grid
    // centroids, all trained ONCE on a bounded head sample (FAISS stance)
    val sample = (0L until 12L).map(vec(_).toArray).toArray
    val centroids = Knn.trainCentroids(sample, nCells = 4)
    val cb = Knn.trainPq(sample, m = 4, ksub = 4)
    val standing: Seq[Seq[Long]] = Knn.kmeansFit(
        (0L until 12L).map(i => (i, vec(i))).toDF("doc_id", "embedding"),
        "embedding", "doc_id", k = 4, iterations = 2)
      .orderBy("cell").as[(Int, Long, Seq[Long])].collect().map(_._3).toSeq
    // the five folded artifacts (driver state, the foreachBatch pattern)
    var base = Seq.empty[(Long, String)].toDF("doc_id", "text")
    var statsRows: DataFrame = null
    var cState: Knn.CentroidState = null
    var vocabSlices = Seq.empty[(String, Long)].toDF("word", "cnt")
    var knT: DataFrame = null
    var nng: DataFrame = null
    var vecBase = Seq.empty[(Long, Seq[Float])].toDF("doc_id", "embedding")
    val schema = "doc_id LONG, text STRING, embedding ARRAY<FLOAT>"
    def startQuery() = spark.readStream.schema(schema).json(srcDir)
      .writeStream
      .option("checkpointLocation", ckDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val b = batch.persist(); b.count()
        // (1) dedup the delta against everything seen (and within itself)
        val survivors = Dedup.incrementalDedup(
          base, b.select($"doc_id", $"text"), "text", "doc_id").persist()
        survivors.count() // settle before base repoints
        val sv = survivors
          .join(b.select($"doc_id", $"embedding"), Seq("doc_id")).persist()
        sv.count()
        // (2) vector index: survivors encoded into the batch=<id> layout
        VectorIndex.appendIdempotent(sv, "embedding", centroids, cb,
          idxDir, batchId)
        // sink: idempotent batch=<id> overwrite (replay-safe)
        graft.sink.VectorTable.appendIdempotent(
          sv.select($"doc_id".cast("string").as("_id"), $"text",
            lit("2024-01-01").as("date"), $"embedding".as("passage_embedding")),
          sinkDir, batchId)
        // (3) BM25 stats: one additive row per batch
        val s = Retrieval.bm25Stats(survivors, "text", "doc_id", terms)
          .localCheckpoint(true)
        statsRows = if (statsRows == null) s else statsRows.unionAll(s)
        // (4) centroid maintenance state (additive k×(d+1) artifact)
        val st = Knn.centroidBatchState(sv, "embedding", standing)
        cState = if (cState == null) st else cState.fold(st)
        // (5) drift: vocab-count slice
        vocabSlices = vocabSlices.unionByName(
          CorpusStats.vocabCounts(survivors, "text").localCheckpoint(true))
        // (6) LM statistics: trigram-type fold over the doc-disjoint
        // survivor batches (occurrence counts are additive; the model's
        // distinct-type grains derive at read time, never fold)
        knT = (if (knT == null) graft.ops.Selection.knTypes(survivors, "text")
               else graft.ops.Selection.knUpdateTypes(knT, survivors, "text"))
          .localCheckpoint(true)
        // (7) graph index: build on the first survivor batch, then fold
        // each delta with the incremental insert (one pass per batch,
        // old-old edges never rescore — the r19 NN-descent seam)
        val svv = sv.select($"doc_id", $"embedding")
        nng = (if (nng == null)
                 graft.ops.NnDescent.nnDescentBuild(svv, "embedding",
                   "doc_id", degree = 4, rounds = 2)
               else graft.ops.NnDescent.nnDescentInsert(nng, vecBase, svv,
                 "embedding", "doc_id", degree = 4))
          .localCheckpoint(true)
        vecBase = vecBase.unionByName(svv).localCheckpoint(true)
        base = base.unionByName(survivors.select($"doc_id", $"text"))
          .localCheckpoint(true)
        b.unpersist(); ()
      }
      .start()
    // phase 1: docs 0–19 → batch 0 committed, then "crash"
    Files.writeString(java.nio.file.Path.of(srcDir, "a.jsonl"),
      (0L until 20L).map(line).mkString("\n"))
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    // phase 2: docs 20–39, NEW query from the same checkpoint
    Files.writeString(java.nio.file.Path.of(srcDir, "b.jsonl"),
      (20L until 40L).map(line).mkString("\n"))
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()

    // one-shot references over everything that arrived
    val allDocs = (0L until 40L).map(i => (i, text(i))).toDF("doc_id", "text")
    val refDedup = Dedup.exactDedup(allDocs, "text", "doc_id").persist()
    val refIds = refDedup.select("doc_id").as[Long].collect().sorted.toSeq
    val refVecs = refIds.map(i => (i, vec(i))).toDF("doc_id", "embedding")
    // (1) dedup base ≡ batch keeper set
    assert(base.select("doc_id").as[Long].collect().sorted.toSeq === refIds)
    // (2) index holds each survivor once; full probe ≡ exact top-k
    assert(VectorIndex.read(spark, idxDir).count() === refIds.size.toLong)
    val probeVec = vec(1L).toArray
    val viaIndex = VectorIndex.probe(spark, idxDir, "embedding", "doc_id",
        centroids, cb, probeVec, 5, nProbe = 4, shortlist = refIds.size)
      .select("doc_id").as[Long].collect().toSet
    val exact = Knn.topK(refVecs, "embedding", "doc_id", probeVec, 5)
      .select("doc_id").as[Long].collect().toSet
    assert(viaIndex === exact)
    // sink: exactly-once effect across the restart
    val sunk = graft.sink.VectorTable.readBatched(spark, sinkDir)
    assert(sunk.count() === refIds.size.toLong)
    assert(sunk.select("_id").as[String].collect().distinct.length === refIds.size)
    // (3) BM25 fold ≡ single-shot ranking over the deduped corpus
    val viaFold = Retrieval.bm25TopKWithStats(base, "text", "doc_id",
        Retrieval.mergeStats(statsRows, terms.size), terms, k = 10)
      .as[(Long, Double, Int)].collect().toSeq
    val viaBatch = Retrieval.bm25TopK(refDedup, "text", "doc_id", terms, k = 10)
      .as[(Long, Double, Int)].collect().toSeq
    assert(viaFold === viaBatch)
    // (4) centroid state fold ≡ one-shot state over all survivors
    assert(cState.sameAs(Knn.centroidBatchState(refVecs, "embedding", standing)))
    // (6) KN trigram-type fold ≡ one-shot types over the deduped corpus
    // (so a model derived from the folded table scores identically to a
    // full retrain — the q_kn_incremental theorem, surviving a restart)
    assert(knT.collect().map(_.toSeq).toSet ===
      graft.ops.Selection.knTypes(refDedup, "text")
        .collect().map(_.toSeq).toSet)
    // (7) graph-index fold: structural contract holds across the restart
    // and a near-exhaustive beam over the folded graph recovers the exact
    // top-5 (n is small enough that ef = n makes the beam exhaustive on a
    // connected graph — the NnDescentSpec degeneracy gate, post-restart)
    assert(nng.groupBy("src").count().agg(max("count")).head().getLong(0) <= 4L)
    assert(nng.filter($"src" === $"dst").count() === 0L)
    assert(nng.select("src").distinct().count() === refIds.size.toLong)
    val nngTop = graft.ops.NnDescent.beamSearchTrace(nng, refVecs,
      "embedding", "doc_id", probeVec, k = 5, ef = refIds.size,
      maxHops = 12, nEntries = 4)
    assert(nngTop.ids.map(_._1).toSet === exact,
      s"folded-graph beam ${nngTop.ids} must recover the exact top-5 $exact")
    // (5) vocab drift fold ≡ one-shot vocab of the deduped corpus
    assert(CorpusStats.mergeVocabCounts(vocabSlices)
        .as[(String, Long)].collect().sorted.toSeq ===
      CorpusStats.vocabCounts(refDedup, "text")
        .as[(String, Long)].collect().sorted.toSeq)
    refDedup.unpersist()
  }

}
