package graft.pipeline

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.embed.{EmbeddingProvider, EmbeddingResult, RetryPolicy, StubEmbeddingProvider}
import graft.sink.{HttpVectorSink, ParquetVectorSink, TestBulkServer, VectorTable}

object DeadLetterSpec {
  /** Fails every text starting with "poison" while `failing` is set. */
  object Switchable extends EmbeddingProvider {
    override val dim: Int = 4
    @volatile var failing = true
    override def embed(text: String): EmbeddingResult = {
      if (failing && text.startsWith("poison")) throw new RuntimeException("provider 500: poison")
      EmbeddingResult(Array.fill(dim)(0.25f), 1)
    }
  }

  /** Fails "poison…"; "gate…" signals `reached` and waits for `release`. */
  object Gate extends EmbeddingProvider {
    override val dim: Int = 4
    val reached = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    override def embed(text: String): EmbeddingResult = {
      if (text.startsWith("poison")) throw new RuntimeException("provider 500: poison")
      if (text.startsWith("gate")) { reached.countDown(); release.await(90, TimeUnit.SECONDS) }
      EmbeddingResult(Array.fill(dim)(0.25f), 1)
    }
  }
}

/** A local filesystem under its own scheme, known to a JVM only through
  * `fs.graftfs.impl`. */
class GraftTestFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "graftfs"
  override def getUri: java.net.URI = java.net.URI.create("graftfs:///")
}

/** The one-pass dead-letter contract of [[RagPipeline.embedAndSink]]: one
  * Spark job per clean unit of work, dead letters only for units with
  * failures, one output per record across task retries, and no reader
  * ever sees a dead-letter file half written. */
class DeadLetterSpec extends AnyFunSuite {
  import DeadLetterSpec._
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  private def enriched(texts: String*): DataFrame =
    texts.map(t => (t, "2024-01-01T00:00:00.000Z", s"id-${t.replace(' ', '-')}"))
      .toDF("text", "created_at", "_id").coalesce(1)

  /** The properties of every job started while `body` runs. */
  private def jobsDuring(body: => Unit): Seq[java.util.Properties] = {
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[java.util.Properties]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = Option(j.properties).foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try { body; org.apache.spark.ProfileBridge.drainListeners(sc) }
    finally sc.removeSparkListener(listener)
    seen.asScala.toSeq
  }

  /** Jobs `body` starts on this thread, under a job group of its own. */
  private def jobsOnThread(body: => Unit): Int = {
    val group = s"deadletter-spec-${java.util.UUID.randomUUID()}"
    val sc = spark.sparkContext
    jobsDuring {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
    }.count(p => p.getProperty("spark.jobGroup.id") == group)
  }

  private def visibleFiles(dir: String): Seq[String] =
    Option(new File(dir).listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) visibleFiles(f.getPath)
      else if (f.getName.startsWith("_") || f.getName.startsWith(".")) Nil
      else Seq(f.getPath)
    }

  private def hiddenFiles(dir: String): Seq[String] =
    Option(new File(dir).listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) hiddenFiles(f.getPath)
      else if (f.getName.startsWith("_")) Seq(f.getPath)
      else Nil
    }

  test("a clean micro-batch runs one Spark job and creates no dead-letter directory") {
    for (kind <- Seq("parquet", "http")) {
      val src = tmp("graft-onepass-src")
      val dl = tmp("graft-onepass-dl") + "/dead"
      val out = tmp("graft-onepass-out") + "/vt"
      val srv = new TestBulkServer()
      val sink = if (kind == "parquet") ParquetVectorSink(out) else HttpVectorSink(srv.url, "idx")
      def wave(n: Int): Unit = Files.write(Paths.get(src, s"wave$n.jsonl"), (1 to 5).map(i =>
          s"""{"text": "wave $n doc $i", "created_at": "2024-01-01T12:00:00.000Z"}""")
        .mkString("\n").getBytes("UTF-8"))
      try {
        var queryId = ""
        val jobs = jobsDuring {
          val q = RagPipeline.streaming(RagPipeline.streamingFileSource(spark, src), sink,
            tmp("graft-onepass-ck"), StubEmbeddingProvider("titan-v2"), deadLetterDir = Some(dl))
          queryId = q.id.toString
          try {
            wave(1); q.processAllAvailable()
            wave(2); q.processAllAvailable()
          } finally q.stop()
        }
        val perBatch = jobs.filter(_.getProperty("sql.streaming.queryId") == queryId)
          .groupBy(_.getProperty("streaming.sql.batchId")).map { case (b, js) => b -> js.size }
        assert(perBatch === Map("0" -> 1, "1" -> 1), s"$kind sink")
        assert(!new File(dl).exists(), s"$kind sink: a clean batch must create no dead-letter dir")
        if (kind == "http") assert(srv.docs.size === 10)
        else assert(VectorTable.readBatched(spark, out).count() === 10)
      } finally srv.stop()
    }
  }

  test("a replay without failures removes the key's dead letters with no Spark job for them") {
    val out = tmp("graft-replay-out") + "/vt"
    val dl = tmp("graft-replay-dl") + "/dead"
    val pre = enriched("good doc", "poison doc")
    def run(): Unit = RagPipeline.embedAndSink(pre, Switchable, RetryPolicy(maxAttempts = 1), 16,
      Some(dl), "batch=7")(ParquetVectorSink(out).appendIdempotent(_, 7))
    Switchable.failing = true
    try assert(jobsOnThread(run()) === 1)
    finally Switchable.failing = false
    val dead = spark.read.parquet(s"$dl/batch=7")
    assert(dead.columns.toSeq === Seq("_id", "text", "embed_error"))
    assert(dead.select("_id").as[String].collect().toSeq === Seq("id-poison-doc"))
    assert(VectorTable.readBatched(spark, out).count() === 1)

    assert(jobsOnThread(run()) === 1, "the replay's dead letters must cost no Spark job")
    assert(!new File(s"$dl/batch=7").exists(), "a clean replay must leave no dead letters for its key")
    assert(!new File(dl).exists(), "an emptied dead-letter dir must not stay behind")
    assert(VectorTable.readBatched(spark, out).count() === 2)
  }

  test("a record that fails only in a failed task attempt lands in the sink, not in the dead letters") {
    val dl = tmp("graft-retry-dl") + "/dead"
    val log = Files.createTempFile("graft-retry-probe", ".log").toFile
    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filterNot(a => a.startsWith("-Xmx") || a.startsWith("-agentlib") || a.startsWith("-javaagent"))
    val cmd = Seq(javaBin) ++ jvmArgs ++ Seq("-Xmx1g", "-cp", System.getProperty("java.class.path"),
      "graft.pipeline.TaskRetryProbe", dl)
    val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).redirectOutput(log).start()
    if (!p.waitFor(180, TimeUnit.SECONDS)) p.destroyForcibly().waitFor()
    val lines = scala.io.Source.fromFile(log, "UTF-8").getLines().toList
    val tail = lines.takeRight(40).mkString("\n")
    assert(p.exitValue() === 0, tail)
    assert(lines.filter(l => l.startsWith("sink ") || l.startsWith("dead ")) ===
      Seq("sink X,Y", "dead "), tail)
    assert(!new File(dl).exists())
  }

  test("no reader sees a dead-letter file while a task is writing it") {
    val out = tmp("graft-partial-out") + "/vt"
    val dl = tmp("graft-partial-dl") + "/dead"
    val run = Future(RagPipeline.embedAndSink(enriched("poison doc", "gate doc"), Gate,
      RetryPolicy(maxAttempts = 1), 16, Some(dl), "batch=3")(ParquetVectorSink(out).appendIdempotent(_, 3)))
    try {
      assert(Gate.reached.await(60, TimeUnit.SECONDS), "the task never reached the gate")
      val deadline = System.nanoTime() + 20L * 1000000000L
      while (hiddenFiles(dl).isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
      assert(hiddenFiles(dl).nonEmpty, "the task has not started its dead-letter file")
      assert(visibleFiles(dl).isEmpty)
      assert(scala.util.Try(spark.read.parquet(dl).count()).getOrElse(0L) === 0L)
    } finally Gate.release.countDown()
    Await.result(run, 60.seconds)
    assert(hiddenFiles(dl).isEmpty)
    val Seq(published) = visibleFiles(dl)
    assert(published.endsWith(".parquet"))
    assert(spark.read.parquet(dl).select("_id").as[String].collect().toSeq === Seq("id-poison-doc"))
  }

  test("both dead-letter writers resolve their filesystem from the session's Hadoop conf") {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    hc.setBoolean("fs.graftfs.impl.disable.cache", true)
    val root = tmp("graft-scheme")
    val srv = new TestBulkServer(alwaysFail = true)
    try {
      Switchable.failing = true
      try RagPipeline.embedAndSink(enriched("good doc", "poison doc"), Switchable,
        RetryPolicy(maxAttempts = 1), 16, Some(s"graftfs://$root/embed-dead"), "run=1")(
        ParquetVectorSink(s"$root/vt").append)
      finally Switchable.failing = false
      assert(spark.read.parquet(s"$root/embed-dead").count() === 1)

      val docs = Seq((Seq(1f, 2f), "passage one", "uuid-1")).toDF("passage_embedding", "text", "_id")
        .withColumn("date", org.apache.spark.sql.functions.current_timestamp())
      HttpVectorSink(srv.url, "idx", maxAttempts = 1,
        deadLetterDir = Some(s"graftfs://$root/bulk-dead")).append(docs)
      assert(visibleFiles(s"$root/bulk-dead").exists(_.endsWith(".jsonl")))
    } finally {
      srv.stop()
      hc.unset("fs.graftfs.impl")
      hc.unset("fs.graftfs.impl.disable.cache")
    }
  }
}
