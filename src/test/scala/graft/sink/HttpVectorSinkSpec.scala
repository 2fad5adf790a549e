package graft.sink

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The network O5 contract against a REAL process boundary: a local JDK
  * HttpServer speaking the `_bulk` NDJSON shape, with injected 5xx faults,
  * item-level errors, and an id-keyed store — so retry, dead-letter,
  * bulk batching, and idempotent replay are all observed from the server
  * side, the same way HttpEmbedSpec proves the O4 contract. */
class HttpVectorSinkSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def sampleDocs(n: Int, day: String = "2024-01-01") =
    (1 to n).map(i =>
        (Seq(i.toFloat, 2f * i), f"$day%s 00:00:${i % 60}%02d",
          s"passage number $i", f"uuid-$i%04d"))
      .toDF("passage_embedding", "_ts", "text", "_id")
      .withColumn("date", col("_ts").cast("timestamp")).drop("_ts")
      .coalesce(1)

  test("wire round-trip: docs land id-keyed with the reference's field shape; auth header sent") {
    val srv = new TestBulkServer()
    try {
      HttpVectorSink(srv.url, "rag-index",
        authHeader = Some("Authorization" -> "Bearer tok-123"))
        .append(sampleDocs(10))
      assert(srv.docs.size === 10)
      assert(srv.docs.containsKey("uuid-0003")) // append path keeps upstream _id
      val doc = srv.docs.get("uuid-0003")
      assert(doc.contains("\"passage_embedding\":[3.0,6.0]"))
      assert(doc.contains("\"text\":\"passage number 3\""))
      assert(doc.contains("\"date\""))
      assert(!doc.contains("\"_id\"")) // id rides the action line, not the body
      assert(srv.authSeen.get(0) === "Bearer tok-123")
    } finally srv.stop()
  }

  test("bulk batching: a wide partition splits on bulkMaxDocs") {
    val srv = new TestBulkServer()
    try {
      HttpVectorSink(srv.url, "idx", bulkMaxDocs = 400).append(sampleDocs(1050))
      assert(srv.docs.size === 1050)
      val sizes = srv.bulkSizes.toArray.map(_.asInstanceOf[Integer].intValue).toSeq
      assert(sizes.sum === 1050)
      assert(sizes.max <= 400)
      assert(sizes.size >= 3)
    } finally srv.stop()
  }

  test("transient 5xx and item-level errors both retry to success") {
    val srv = new TestBulkServer(failFirst = 1, itemErrorsFirst = 1)
    try {
      HttpVectorSink(srv.url, "idx", maxAttempts = 4, initialBackoffMs = 10)
        .append(sampleDocs(5))
      assert(srv.docs.size === 5)
      assert(srv.attempts === 3) // 503, 200-with-errors, then clean
    } finally srv.stop()
  }

  test("an unreachable store dead-letters the bulk and the job survives") {
    val srv = new TestBulkServer(alwaysFail = true)
    val dlq = Files.createTempDirectory("dlq").toString
    try {
      HttpVectorSink(srv.url, "idx", maxAttempts = 2, initialBackoffMs = 5,
        deadLetterDir = Some(dlq)).append(sampleDocs(7)) // must not throw
      assert(srv.docs.isEmpty)
      val files = new java.io.File(dlq).listFiles().filter(_.getName.endsWith(".jsonl"))
      assert(files.nonEmpty)
      val lines = files.flatMap(f =>
        scala.io.Source.fromFile(f, "UTF-8").getLines().toSeq).toSeq
      assert(lines.size === 7)
      assert(lines.forall(l => l.contains("\"_id\"") && l.contains("passage number")))
    } finally srv.stop()
  }

  test("idempotent dead letters are keyed by batch: batch N+1 keeps batch N's") {
    val srv = new TestBulkServer(alwaysFail = true)
    val dlq = Files.createTempDirectory("dlq-batch").toString
    try {
      val sink = HttpVectorSink(srv.url, "idx", maxAttempts = 1, deadLetterDir = Some(dlq))
      sink.appendIdempotent(sampleDocs(3), batchId = 1)
      sink.appendIdempotent(sampleDocs(5), batchId = 2)
      def lines(batchId: Long) =
        Option(new java.io.File(dlq, s"batch=$batchId").listFiles()).toSeq.flatten
          .filter(_.getName.endsWith(".jsonl"))
          .flatMap(f => scala.io.Source.fromFile(f, "UTF-8").getLines().toSeq)
      assert(lines(1).size === 3)
      assert(lines(2).size === 5)
    } finally srv.stop()
  }

  test("without a deadLetterDir an exhausted bulk fails the task, never drops documents") {
    val srv = new TestBulkServer(alwaysFail = true)
    try {
      val e = intercept[Exception](
        HttpVectorSink(srv.url, "idx", maxAttempts = 2, initialBackoffMs = 5)
          .append(sampleDocs(4)))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(c => String.valueOf(c.getMessage).contains("no deadLetterDir")), e)
    } finally srv.stop()
  }

  test("idempotent replay: re-putting batch N converges instead of duplicating") {
    val srv = new TestBulkServer()
    try {
      val sink = HttpVectorSink(srv.url, "idx")
      val docs = sampleDocs(20)
      sink.appendIdempotent(docs, batchId = 7)
      val afterFirst = srv.docs.size
      assert(afterFirst === 20)
      sink.appendIdempotent(docs, batchId = 7) // checkpoint replay
      assert(srv.docs.size === afterFirst, "replay of the same batch must upsert, not append")
      sink.appendIdempotent(docs, batchId = 8) // genuinely new batch
      assert(srv.docs.size === 2 * afterFirst, "distinct batches must not collide")
    } finally srv.stop()
  }

  test("flush interval bounds how long a trickling buffer waits") {
    val srv = new TestBulkServer()
    try {
      val cfg = HttpVectorSink(srv.url, "idx", bulkMaxDocs = 1000, flushIntervalMs = 10)
      val slow = (1 to 4).iterator.map { i =>
        if (i > 1) Thread.sleep(30)
        (s"id-$i", s"""{"text":"t$i"}""")
      }
      val (sent, dead) = BulkWriter.writePartition(slow, cfg, partitionId = 0, hadoopConf = None)
      assert(dead === 0)
      assert(sent >= 2, s"a 10 ms flush interval must split a 30 ms-gap trickle, sent=$sent")
      assert(srv.docs.size === 4)
    } finally srv.stop()
  }

  test("one HTTP client per JVM: 50 partitions start no thread per partition") {
    val srv = new TestBulkServer()
    val threads = java.lang.management.ManagementFactory.getThreadMXBean
    try {
      val cfg = HttpVectorSink(srv.url, "idx")
      def partition(i: Int) =
        BulkWriter.writePartition(Iterator((s"id-$i", s"""{"text":"t$i"}""")), cfg, i, None)
      (0 until 5).foreach(partition) // the client and its threads exist
      val before = threads.getThreadCount
      (5 until 55).foreach(partition)
      val grown = threads.getThreadCount - before
      assert(grown <= 4, s"$grown threads more after 50 partitions")
      assert(srv.docs.size === 55)
    } finally srv.stop()
  }

  test("SigV4 seam: every bulk arrives signed, with the payload hash matching the received body") {
    val srv = new TestBulkServer()
    try {
      HttpVectorSink(srv.url, "rag-index", bulkMaxDocs = 4,
        signer = Some(SigV4Signer("AKTEST", "secret", "us-east-1", "es")))
        .append(sampleDocs(10))
      assert(srv.docs.size === 10)
      val sigs = srv.sigSeen.toArray.map(_.asInstanceOf[Array[String]]).toSeq
      assert(sigs.size >= 3, "every bulk request must be signed, not just the first")
      sigs.foreach { case Array(date, sha, auth, body) =>
        assert(date.matches("""\d{8}T\d{6}Z"""))
        // the server recomputes the payload hash from the bytes it RECEIVED
        val expect = java.security.MessageDigest.getInstance("SHA-256")
          .digest(body.getBytes(StandardCharsets.UTF_8))
          .map(b => f"${b & 0xff}%02x").mkString
        assert(sha === expect, "x-amz-content-sha256 must hash the wire body")
        assert(auth.matches(
          "AWS4-HMAC-SHA256 Credential=AKTEST/\\d{8}/us-east-1/es/aws4_request, " +
            "SignedHeaders=content-type;host;x-amz-content-sha256;x-amz-date, " +
            "Signature=[0-9a-f]{64}"))
      }
    } finally srv.stop()
  }

  test("streaming topology end-to-end: micro-batches land over HTTP behind the VectorSink seam") {
    val srv = new TestBulkServer()
    val src = Files.createTempDirectory("wire-src")
    val ckpt = Files.createTempDirectory("wire-ckpt").toString
    try {
      Files.write(src.resolve("w1.jsonl"),
        (1 to 6).map(i =>
            s"""{"text": "streamed passage $i", "created_at": "2024-03-01T08:00:0$i.000Z"}""")
          .mkString("\n").getBytes(StandardCharsets.UTF_8))
      val sink = HttpVectorSink(srv.url, "rag-index")
      val q = graft.pipeline.RagPipeline.streaming(
        graft.pipeline.RagPipeline.streamingFileSource(spark, src.toString), sink, ckpt)
      try q.processAllAvailable() finally q.stop()
      assert(srv.docs.size === 6)
      assert(srv.docs.values().toArray.exists(_.toString.contains("streamed passage 3")))
    } finally srv.stop()
  }
}
