package graft.pipeline

import org.apache.spark.sql.SparkSession
import graft.embed.{EmbeddingModels, RetryPolicy, StubEmbeddingProvider}

/** Runtime configuration for the pipeline runner — the Spark analogue of the
  * reference's application-properties loading
  * (`…/DataStreamJob.java:90-103` reads `KinesisConsumerConfig` /
  * `MSKConnectionConfig` property groups at startup) and of its
  * start/poll/stop lifecycle lambda (`startFlinkApplication/index.py:28-44`).
  *
  * Keys (k=v args, later wins; `@/path/file.properties` loads a Java
  * properties file in place):
  *
  *  - `mode`            batch | streaming | streaming-kafka
  *  - `source.path`     input dir/file (batch + streaming modes)
  *  - `kafka.bootstrap` bootstrap servers (streaming-kafka)
  *  - `kafka.topic`     topic (streaming-kafka)
  *  - `kafka.startingOffsets` earliest (default) | latest | json
  *  - `kafka.option.*`  passed through to the consumer (SASL etc.)
  *  - `sink.kind`       parquet (default) | memory | http —
  *                      [[graft.sink.VectorSink]] implementation; `memory`
  *                      treats `sink.dir` as the in-memory table name
  *                      (test/demo backend)
  *  - `sink.dir`        vector-table output dir (parquet) or table name (memory)
  *  - `sink.endpoint`   http: base URL of the bulk-indexing store
  *  - `sink.index`      http: target index name
  *  - `sink.bulkMaxDocs` / `sink.flushMs` / `sink.maxAttempts`
  *                      http: bulk sizing, buffer age cap (reference runs
  *                      1 ms, `DataStreamJob.java:173`), retry attempts
  *  - `sink.authHeader` http: `Name: value` auth header (the SigV4
  *                      interceptor seam, `DataStreamJob.java:158-170`)
  *  - `sink.deadletter.dir`  http: NDJSON dead-letter dir for bulks that
  *                      exhaust their retries (streaming: under
  *                      `batch=<id>/`). Absent → such a bulk fails the batch
  *  - `checkpoint.dir`  streaming checkpoint location
  *  - `model`           titan-v1 (default) | titan-v2 — reference registry
  *  - `embed.endpoint`  HTTP embedding endpoint URL → uses
  *                      [[graft.embed.HttpEmbeddingProvider]]; absent → the
  *                      deterministic stub (no-egress default)
  *  - `embed.maxInFlight`  embed calls in flight at once per executor JVM
  *                      and provider, every mode (default 1000, the
  *                      reference's `unorderedWait` capacity). The bound is
  *                      shared by all the partitions a JVM runs at once: the
  *                      reference's capacity is per operator instance, and
  *                      one executor JVM is the closer analogue of that
  *                      than one partition, whose count a deployment
  *                      neither sees nor fixes
  *  - `embed.maxAttempts`  attempts per record before it fails (default 3)
  *  - `deadletter.dir`  where records that fail embedding land, every mode:
  *                      parquet under `run=<source hash>` (batch) or
  *                      `batch=<id>` (streaming), written only for batches
  *                      with failures, by the same tasks that feed the
  *                      sink; a replay replaces them. Absent → a record
  *                      that fails embedding fails the batch
  *  - `chunk.size`      opt-in O3.5 passage chunking, every mode: window
  *                      size in tokens; `chunk.stride` (default = size)
  *                      sets the overlap stride
  *  - `timeout.s`       streaming: stop gracefully after N seconds (0 = run
  *                      until external termination)
  *
  * Any other key is rejected by [[PipelineConfig.validated]], so a typo
  * fails the run instead of falling back to a default.
  */
final case class PipelineConfig(settings: Map[String, String]) {
  def get(key: String): Option[String] = settings.get(key)
  def apply(key: String): String = settings.getOrElse(key,
    throw new IllegalArgumentException(s"missing required config key: $key"))
  def getOrElse(key: String, default: String): String = settings.getOrElse(key, default)
  def int(key: String): Option[Int] = number(key)(_.toInt)
  def long(key: String): Option[Long] = number(key)(_.toLong)
  /** A numeric key's value; a malformed one fails naming its key, not with
    * a bare NumberFormatException. */
  private def number[T](key: String)(parse: String => T): Option[T] =
    get(key).map { v =>
      try parse(v)
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(s"config key $key must be an integer, got: '$v'") }
    }

  def mode: String = getOrElse("mode", "batch")
  def modelAlias: String = getOrElse("model", "titan-v1")
  def sinkKind: String = getOrElse("sink.kind", "parquet")
  def maxInFlight: Int = int("embed.maxInFlight").getOrElse(1000)
  def retryPolicy: RetryPolicy =
    RetryPolicy(maxAttempts = int("embed.maxAttempts").getOrElse(3))
  def kafkaExtra: Map[String, String] =
    settings.collect { case (k, v) if k.startsWith(PipelineConfig.kafkaOption) =>
      k.stripPrefix(PipelineConfig.kafkaOption) -> v }

  def validated: PipelineConfig = {
    settings.keys.filterNot(PipelineConfig.known).foreach { k =>
      throw new IllegalArgumentException(s"unknown config key: $k")
    }
    require(Set("batch", "streaming", "streaming-kafka")(mode), s"unknown mode: $mode")
    require(Set("parquet", "memory", "http")(sinkKind), s"unknown sink.kind: $sinkKind")
    EmbeddingModels.dimOf(modelAlias) // throws on unknown model
    mode match {
      case "batch" | "streaming" => apply("source.path")
      case "streaming-kafka"     => apply("kafka.bootstrap"); apply("kafka.topic")
    }
    if (sinkKind == "http") { apply("sink.endpoint"); apply("sink.index") }
    else apply("sink.dir")
    if (mode != "batch") apply("checkpoint.dir")
    this
  }
}

object PipelineConfig {
  /** Every key the runner reads: these, and any key under `kafkaOption`. */
  val kafkaOption = "kafka.option."
  val keys: Set[String] = Set(
    "mode", "source.path", "kafka.bootstrap", "kafka.topic", "kafka.startingOffsets",
    "sink.kind", "sink.dir", "sink.endpoint", "sink.index", "sink.bulkMaxDocs", "sink.flushMs",
    "sink.maxAttempts", "sink.authHeader", "sink.deadletter.dir", "checkpoint.dir", "model",
    "embed.endpoint", "embed.maxInFlight", "embed.maxAttempts", "deadletter.dir",
    "chunk.size", "chunk.stride", "timeout.s")
  def known(key: String): Boolean = keys(key) || key.startsWith(kafkaOption)

  /** `k=v` args in order (later wins); `@file` loads a properties file. */
  def parse(args: Seq[String]): PipelineConfig =
    PipelineConfig(args.foldLeft(Map.empty[String, String]) { (acc, arg) =>
      if (arg.startsWith("@")) acc ++ loadProperties(arg.drop(1))
      else arg.split("=", 2) match {
        case Array(k, v) => acc + (k.trim -> v.trim)
        case _ => throw new IllegalArgumentException(s"expected k=v or @file, got: $arg")
      }
    })

  private def loadProperties(path: String): Map[String, String] = {
    val p = new java.util.Properties()
    val in = new java.io.FileInputStream(path)
    try p.load(in) finally in.close()
    import scala.jdk.CollectionConverters._
    p.asScala.toMap
  }
}

/** Config-driven pipeline runner: `runMain graft.pipeline.RunPipeline
  * mode=batch source.path=… sink.dir=…` (or `@app.properties`). */
object RunPipeline {
  def main(args: Array[String]): Unit = {
    val conf = PipelineConfig.parse(args.toSeq).validated
    val spark = SparkSession.builder()
      .appName("graft-rag-pipeline")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    try run(spark, conf) finally spark.stop()
  }

  /** Separated from `main` so tests can drive it with their own session. */
  def run(spark: SparkSession, conf: PipelineConfig): Unit = {
    // no-egress default is the deterministic stub; an explicit endpoint
    // opts into the real process-boundary HTTP provider
    val provider: graft.embed.EmbeddingProvider = conf.get("embed.endpoint") match {
      case Some(url) => graft.embed.HttpEmbeddingProvider(url, conf.modelAlias)
      case None      => StubEmbeddingProvider(conf.modelAlias)
    }
    val sink: graft.sink.VectorSink = conf.sinkKind match {
      case "memory" => graft.sink.MemoryVectorSink(conf("sink.dir"))
      case "http" => graft.sink.HttpVectorSink(
        endpoint = conf("sink.endpoint"),
        index = conf("sink.index"),
        bulkMaxDocs = conf.int("sink.bulkMaxDocs").getOrElse(500),
        flushIntervalMs = conf.long("sink.flushMs").getOrElse(200L),
        maxAttempts = conf.int("sink.maxAttempts").getOrElse(3),
        authHeader = conf.get("sink.authHeader").map { h =>
          h.split(":", 2) match {
            case Array(k, v) => (k.trim, v.trim)
            case _ => throw new IllegalArgumentException(
              s"sink.authHeader must be 'Name: value', got: $h")
          }
        },
        deadLetterDir = conf.get("sink.deadletter.dir"))
      case _ => graft.sink.ParquetVectorSink(conf("sink.dir"))
    }
    // opt-in O3.5 passage chunking for EVERY mode: chunk.size=<tokens>
    // (chunk.stride defaults to size → disjoint windows)
    val chunking: Option[(Int, Int)] = conf.int("chunk.size").map { sz =>
      (sz, conf.int("chunk.stride").getOrElse(sz)) }
    // explicit DDL stage, reference index-creation-lambda parity: the
    // table exists with its schema before any data flows
    sink.bootstrap()
    val deadLetterDir = conf.get("deadletter.dir")
    // mode only chooses the source: every mode runs the same embed → sink
    // body (RagPipeline.embedAndSink)
    conf.mode match {
      case "batch" =>
        val raw = spark.read.text(conf("source.path")).toDF("value")
        // the run key is the source path, which identifies the batch input:
        // re-running the same batch job replaces its dead letters
        val runId = java.lang.Long.toHexString(
          graft.functions.TextHashing.fnv64(conf("source.path")))
        RagPipeline.embedAndSink(RagPipeline.preEmbed(raw, chunking), provider,
          conf.retryPolicy, conf.maxInFlight, deadLetterDir, s"run=$runId")(sink.append)

      case mode =>
        val raw =
          if (mode == "streaming") RagPipeline.streamingFileSource(spark, conf("source.path"))
          else RagPipeline.streamingKafkaSource(spark, conf("kafka.bootstrap"),
            conf("kafka.topic"), conf.getOrElse("kafka.startingOffsets", "earliest"),
            conf.kafkaExtra)
        val q = RagPipeline.streaming(raw, sink, conf("checkpoint.dir"), provider,
          conf.retryPolicy, conf.maxInFlight, chunking, deadLetterDir)
        awaitWithTimeout(q, conf)
    }
  }

  private def awaitWithTimeout(q: org.apache.spark.sql.streaming.StreamingQuery,
                               conf: PipelineConfig): Unit = {
    val timeoutS = conf.long("timeout.s").getOrElse(0L)
    if (timeoutS > 0) { q.awaitTermination(timeoutS * 1000); q.stop() }
    else q.awaitTermination()
  }
}
