package graft.sink

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.util.SerializableConfiguration

import graft.embed.JsonCodec

/** Network O5: HTTP bulk-indexing [[VectorSink]] — the process-boundary
  * implementation of the reference's OpenSearch sink
  * (`…/DataStreamJob.java:172-193`: `OpensearchSinkBuilder` with
  * `setBulkFlushInterval(1)`, docs `{passage_embedding, date, text}` via
  * `createIndexRequest2`). No cloud SDK, no search-client dependency:
  * plain `java.net.http.HttpClient` POSTing the standard `_bulk` NDJSON
  * wire shape (`{"index":{"_index":…,"_id":…}}\n{doc}\n`), which any
  * OpenSearch/Elasticsearch-compatible store accepts. Auth is a pluggable
  * header pair — the seam where the reference installs its SigV4 request
  * interceptor (`DataStreamJob.java:158-170`); a bearer token or basic
  * credentials drop in the same way.
  *
  * Executor-side by construction: documents serialize to JSON inside the
  * scan (`to_json`, codegen'd — no UDF) and each partition streams its own
  * bulk requests. Nothing funnels through the driver, so the sink scales
  * with the cluster like the parquet default.
  *
  * Failure contract, mirrored from [[graft.embed.HttpEmbeddingProvider]]:
  *  - non-2xx, connect/read timeout, or a 2xx body carrying
  *    `"errors": true` → retry the WHOLE bulk with exponential backoff
  *    (safe: doc ids make re-indexing already-accepted items an upsert
  *    no-op, so item-level replay bookkeeping buys nothing);
  *  - a bulk that exhausts `maxAttempts` dead-letters its documents as
  *    NDJSON under `deadLetterDir` (one file per partition, overwritten on
  *    task retry — no dead-letter duplication either; [[appendIdempotent]]
  *    keys them by batch) and the job continues: one unreachable shard
  *    costs its documents a detour, not the stream;
  *  - without a `deadLetterDir` that bulk fails the task instead — the
  *    same policy as the embed stage: documents are never dropped
  *    silently.
  *
  * Replay semantics — the fix for the reference's duplicate leak
  * (`DataStreamJob.java:191` comments out `.id(…)`, so every replayed
  * record mints a fresh server-side doc id):
  *  - [[append]]: doc id = the row's `_id` column when present (the
  *    upstream uuid), else the content hash — at-least-once, with id-keyed
  *    stores deduping on replay;
  *  - [[appendIdempotent]]: doc id = `sha1(batchId | text | date)`.
  *    Deterministic across replays of the same micro-batch — replaying
  *    batch N re-puts the SAME ids, so an upserting store converges
  *    instead of duplicating. (The upstream `_id` uuid is deliberately NOT
  *    used here: uuids regenerate on replay, which is exactly the leak.)
  *    Byte-identical (text, date) duplicates within one batch collapse to
  *    one document — upsert-store semantics, and what a RAG index wants.
  *
  * `flushIntervalMs` caps how long a buffered document waits for its bulk
  * to fill (the reference runs 1 ms; the default here is batch-friendly —
  * set 1 to mirror it). `bulkMaxDocs`/`bulkMaxBytes` bound each request so
  * a wide partition can't build a gigabyte POST.
  */
final case class HttpVectorSink(
    endpoint: String,
    index: String,
    bulkMaxDocs: Int = 500,
    bulkMaxBytes: Long = 4L << 20,
    flushIntervalMs: Long = 200,
    maxAttempts: Int = 3,
    initialBackoffMs: Long = 50,
    authHeader: Option[(String, String)] = None,
    signer: Option[RequestSigner] = None,
    connectTimeoutMs: Long = 2000,
    requestTimeoutMs: Long = 10000,
    deadLetterDir: Option[String] = None) extends VectorSink {

  require(bulkMaxDocs > 0 && bulkMaxBytes > 0 && maxAttempts > 0)

  override def append(docs: DataFrame): Unit =
    write(docs, docId(docs, prefix = None), this)

  /** Dead letters go under `<deadLetterDir>/batch=<id>/`, so batch N+1's
    * partition files cannot overwrite batch N's. */
  override def appendIdempotent(docs: DataFrame, batchId: Long): Unit =
    write(docs, docId(docs, prefix = Some(batchId)),
      copy(deadLetterDir = deadLetterDir.map(d => s"$d/batch=$batchId")))

  /** Deterministic doc id. With a batch prefix: replay-stable content
    * hash; without: the upstream `_id` when the frame has one — cast to
    * string, because the wire loop reads it as one (a LONG upstream key
    * would otherwise ClassCastException per partition at runtime). */
  private def docId(docs: DataFrame, prefix: Option[Long]) = prefix match {
    case Some(b) =>
      sha1(concat_ws("|", lit(b), col("text"), col("date").cast("string")))
    case None if docs.columns.contains("_id") => col("_id").cast("string")
    case None =>
      sha1(concat_ws("|", col("text"), col("date").cast("string")))
  }

  /** `cfg` is serialized into the task (this case class, not the
    * DataFrame closure). */
  private def write(docs: DataFrame, id: org.apache.spark.sql.Column,
                    cfg: HttpVectorSink): Unit = {
    val cols = docs.columns.filterNot(_ == "_id").map(col)
    val payload = docs.select(id.as("_docid"),
      to_json(struct(cols.toIndexedSeq: _*)).as("_doc"))
    // only a dead-letter dir uses it
    val hadoopConf = cfg.deadLetterDir.map(_ => HadoopConf.of(docs.sparkSession))
    payload.foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
      val pid = Option(org.apache.spark.TaskContext.get()).map(_.partitionId()).getOrElse(0)
      BulkWriter.writePartition(
        it.map(r => (r.getString(0), r.getString(1))), cfg, pid, hadoopConf)
      ()
    }
  }
}

/** The per-partition bulk loop — package-visible so the flush-interval and
  * retry behavior can be unit-driven with a hand-built iterator. */
private[sink] object BulkWriter {

  /** Buffers (id, docJson) pairs into `_bulk` NDJSON requests, flushing on
    * doc count, byte size, or buffer age; retries each bulk; dead-letters
    * a bulk that exhausts its attempts, or throws when there is no
    * dead-letter dir. `hadoopConf` is the session's, which the dead-letter
    * dir's filesystem resolves from; required with a dir. Returns
    * (bulksSent, docsDeadLettered). */
  def writePartition(rows: Iterator[(String, String)], cfg: HttpVectorSink,
                     partitionId: Int, hadoopConf: Option[Broadcast[SerializableConfiguration]]): (Int, Int) = {
    require(cfg.deadLetterDir.isEmpty || hadoopConf.isDefined,
      "a deadLetterDir needs the session's Hadoop conf")
    val client = this.client(cfg.connectTimeoutMs)
    val buf = new StringBuilder
    val bufDocs = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var bufSince = 0L
    var sent = 0
    var dead = 0
    val deadLetters = scala.collection.mutable.ArrayBuffer.empty[(String, String)]

    def flush(): Unit = if (bufDocs.nonEmpty) {
      if (postWithRetry(client, cfg, buf.toString)) sent += 1
      else if (cfg.deadLetterDir.isEmpty)
        throw new java.io.IOException(s"_bulk to ${cfg.endpoint} failed after " +
          s"${cfg.maxAttempts} attempts; ${bufDocs.size} documents not indexed " +
          "and no deadLetterDir is set")
      else { dead += bufDocs.size; deadLetters ++= bufDocs }
      buf.clear(); bufDocs.clear()
    }

    for ((id, doc) <- rows) {
      if (bufDocs.isEmpty) bufSince = System.nanoTime()
      buf.append("{\"index\":{\"_index\":").append(JsonCodec.quote(cfg.index))
        .append(",\"_id\":").append(JsonCodec.quote(id)).append("}}\n")
        .append(doc).append('\n')
      bufDocs += ((id, doc))
      val aged = (System.nanoTime() - bufSince) / 1000000L >= cfg.flushIntervalMs
      if (bufDocs.size >= cfg.bulkMaxDocs || buf.length >= cfg.bulkMaxBytes || aged)
        flush()
    }
    flush()
    if (deadLetters.nonEmpty) writeDeadLetters(cfg, partitionId, deadLetters.toSeq, hadoopConf)
    (sent, dead)
  }

  /** One client per JVM and connect timeout, shared by every task: its
    * selector thread and keep-alive connections outlive a partition. */
  private val clients = new java.util.concurrent.ConcurrentHashMap[java.lang.Long, HttpClient]()

  private def client(connectTimeoutMs: Long): HttpClient =
    clients.computeIfAbsent(connectTimeoutMs, (_: java.lang.Long) => HttpClient.newBuilder()
      .connectTimeout(java.time.Duration.ofMillis(connectTimeoutMs))
      .build())

  /** True on success; false once attempts are exhausted. Retryable: IO
    * faults, non-2xx, and 2xx with `"errors": true` (partial item
    * failure — whole-bulk replay is idempotent under deterministic ids). */
  private def postWithRetry(client: HttpClient, cfg: HttpVectorSink,
                            body: String): Boolean = {
    var attempt = 0
    var backoff = cfg.initialBackoffMs
    while (attempt < cfg.maxAttempts) {
      attempt += 1
      try {
        val uri = URI.create(s"${cfg.endpoint}/_bulk")
        val b = HttpRequest.newBuilder(uri)
          .timeout(java.time.Duration.ofMillis(cfg.requestTimeoutMs))
          .header("Content-Type", "application/x-ndjson")
        cfg.authHeader.foreach { case (k, v) => b.header(k, v) }
        // signing seam (reference: SigV4 interceptor,
        // DataStreamJob.java:158-170) — signed INSIDE the attempt loop so
        // a retry after backoff re-signs with a fresh date rather than
        // replaying a stale signature past the server's clock-skew window
        cfg.signer.foreach { s =>
          val base = Seq("Content-Type" -> "application/x-ndjson") ++
            cfg.authHeader.toSeq
          s.headers("POST", uri, base,
              body.getBytes(StandardCharsets.UTF_8))
            .foreach { case (k, v) => b.header(k, v) }
        }
        val resp = client.send(
          b.POST(HttpRequest.BodyPublishers.ofString(body, StandardCharsets.UTF_8)).build(),
          HttpResponse.BodyHandlers.ofString(StandardCharsets.UTF_8))
        if (resp.statusCode() / 100 == 2 && !hasItemErrors(resp.body())) return true
      } catch {
        case e: InterruptedException => throw e
        case _: java.io.IOException => // fall through to backoff
      }
      if (attempt < cfg.maxAttempts) {
        Thread.sleep(backoff)
        backoff = math.min(backoff * 2, 5000)
      }
    }
    false
  }

  private val errorsTrue = """"errors"\s*:\s*true""".r
  private[sink] def hasItemErrors(body: String): Boolean =
    errorsTrue.findFirstIn(body).isDefined

  /** One NDJSON dead-letter file per partition, OVERWRITTEN on task retry
    * so replayed partitions never duplicate their dead letters. Hadoop FS
    * API for object-store parity (same reasoning as
    * [[VectorTable.bootstrap]]). */
  private def writeDeadLetters(cfg: HttpVectorSink, partitionId: Int,
                               docs: Seq[(String, String)],
                               hadoopConf: Option[Broadcast[SerializableConfiguration]]): Unit =
    for (dir <- cfg.deadLetterDir; conf <- hadoopConf) {
      val path = new org.apache.hadoop.fs.Path(dir, f"deadletter-p$partitionId%05d.jsonl")
      val fs = path.getFileSystem(conf.value.value)
      fs.mkdirs(path.getParent)
      val out = fs.create(path, /* overwrite = */ true)
      try docs.foreach { case (id, doc) =>
        out.write(s"""{"_id":${JsonCodec.quote(id)},"doc":$doc}\n"""
          .getBytes(StandardCharsets.UTF_8))
      } finally out.close()
    }
}
