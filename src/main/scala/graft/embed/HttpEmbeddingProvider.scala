package graft.embed

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.util.concurrent.{CompletableFuture, ConcurrentHashMap, Executors}

/** Generic HTTP/JSON embedding provider — the process-boundary-crossing
  * implementation of [[EmbeddingProvider]] that the reference's async
  * operator contract calls for (reference
  * `operators/asyncIO/BedRockEmbeddingModelAsyncCustomMessage.java:47-117`:
  * async `InvokeModel` with a JSON `inputText` request and an
  * `embedding` + `inputTextTokenCount` JSON response — the public Titan
  * wire shape, reproduced here against any HTTP endpoint).
  *
  * No cloud SDK: plain `java.net.http.HttpClient` (JDK 11+). Request:
  * `POST {"inputText": "…"}`; response: `{"embedding": [f, …],
  * "inputTextTokenCount": n}`. [[embedAsync]] is `sendAsync`: a call in
  * flight holds no thread, so [[EmbeddingStage.embedIteratorSafe]] keeps
  * up to its whole bound of calls open.
  *
  * Failure contract (what [[EmbeddingStage.embedIteratorSafe]] relies on):
  *  - non-2xx → `IOException` (retryable, then dead-letter);
  *  - connect/read beyond the configured timeouts → `HttpTimeoutException`
  *    (an `IOException`): each attempt ends by itself within
  *    `requestTimeoutMs`, and the record's permit comes back when it does;
  *  - cancelling the [[embedAsync]] future (a blown record budget, or a
  *    killed task's window) aborts the exchange; the permit is released by
  *    the cancel itself;
  *  - thread interrupt of a blocking [[embed]] → `InterruptedException`
  *    propagates.
  *
  * Thread-safe: one immutable `HttpClient` per JVM and connect timeout,
  * shared by every task, so its connections are reused across tasks and
  * micro-batches and the case class serializes without it.
  */
final case class HttpEmbeddingProvider(
    endpoint: String,
    modelAlias: String = "titan-v2",
    connectTimeoutMs: Long = 2000,
    requestTimeoutMs: Long = 10000) extends EmbeddingProvider {

  override val dim: Int = EmbeddingModels.dimOf(modelAlias)

  private def client: HttpClient = HttpEmbeddingProvider.client(connectTimeoutMs)

  private def request(text: String): HttpRequest =
    HttpRequest.newBuilder(URI.create(endpoint))
      .timeout(java.time.Duration.ofMillis(requestTimeoutMs))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(
        s"""{"inputText": ${JsonCodec.quote(text)}}""", StandardCharsets.UTF_8))
      .build()

  private def result(resp: HttpResponse[String]): EmbeddingResult = {
    if (resp.statusCode() / 100 != 2)
      throw new java.io.IOException(
        s"embedding endpoint HTTP ${resp.statusCode()}: ${resp.body().take(200)}")
    val (vec, tokens) = JsonCodec.parseEmbedding(resp.body())
    if (vec.length != dim)
      throw new java.io.IOException(
        s"embedding endpoint returned ${vec.length} dims, expected $dim")
    EmbeddingResult(vec, tokens)
  }

  override def embed(text: String): EmbeddingResult =
    result(client.send(request(text), HttpResponse.BodyHandlers.ofString(StandardCharsets.UTF_8)))

  override def embedAsync(text: String): CompletableFuture[EmbeddingResult] = {
    val sent = client.sendAsync(request(text), HttpResponse.BodyHandlers.ofString(StandardCharsets.UTF_8))
    val parsed = sent.thenApply[EmbeddingResult](r => result(r))
    // a dependent stage does not pass a cancel on to its source: do it here
    parsed.whenComplete((_: EmbeddingResult, _: Throwable) => sent.cancel(true))
    parsed
  }
}

object HttpEmbeddingProvider {
  /** Runs the clients' completion stages. A small fixed pool of its own: a
    * thread of [[EmbeddingStage.pool]] may block in [[HttpEmbeddingProvider.embed]],
    * and the exchange it waits for must never queue behind it. Fixed, so
    * a thousand calls in flight never grow a cached pool to hundreds of
    * threads. */
  private lazy val executor = Executors.newFixedThreadPool(
    math.min(Runtime.getRuntime.availableProcessors(), 8), EmbeddingStage.daemons("graft-embed-http"))

  private val clients = new ConcurrentHashMap[java.lang.Long, HttpClient]()

  private def client(connectTimeoutMs: Long): HttpClient =
    clients.computeIfAbsent(connectTimeoutMs, (_: java.lang.Long) => HttpClient.newBuilder()
      .connectTimeout(java.time.Duration.ofMillis(connectTimeoutMs))
      .executor(executor)
      .build())
}

/** Minimal JSON encode/decode for the embedding wire shape — enough for the
  * `inputText` request and the `embedding`/`inputTextTokenCount` response,
  * so no JSON library dependency is needed. */
object JsonCodec {

  /** `s` as a JSON string literal: quote, backslash and every control char
    * below 0x20 escaped, everything else (non-ASCII included) passed
    * through. The one escaper of the bulk sink, Bench and Verify too: a
    * stray tab or CR in a SQL text or error message would otherwise make a
    * reader's `json.load` fail. */
  def quote(s: String): String = {
    val b = new StringBuilder(s.length + 2).append('"')
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  /** Extract `"embedding": [floats…]` and `"inputTextTokenCount": n` from a
    * JSON object body. Tolerant of whitespace and key order; rejects bodies
    * without a well-formed embedding array. */
  def parseEmbedding(body: String): (Array[Float], Int) = {
    val arr = extractArray(body, "embedding")
      .getOrElse(throw new java.io.IOException(
        s"no embedding array in response: ${body.take(200)}"))
    val floats = new Array[Float](arr.length)
    var i = 0
    while (i < arr.length) {
      floats(i) = java.lang.Float.parseFloat(arr(i).trim)
      i += 1
    }
    val tokens = extractNumber(body, "inputTextTokenCount").map(_.toInt).getOrElse(0)
    (floats, tokens)
  }

  private def extractArray(body: String, key: String): Option[Array[String]] = {
    val k = "\"" + key + "\""
    val ki = body.indexOf(k)
    if (ki < 0) return None
    val open = body.indexOf('[', ki + k.length)
    if (open < 0) return None
    val close = body.indexOf(']', open)
    if (close < 0) return None
    val inner = body.substring(open + 1, close).trim
    Some(if (inner.isEmpty) Array.empty[String] else inner.split(","))
  }

  private def extractNumber(body: String, key: String): Option[Long] = {
    val k = "\"" + key + "\""
    val ki = body.indexOf(k)
    if (ki < 0) return None
    val colon = body.indexOf(':', ki + k.length)
    if (colon < 0) return None
    var i = colon + 1
    while (i < body.length && body.charAt(i).isWhitespace) i += 1
    val start = i
    while (i < body.length && (body.charAt(i).isDigit || body.charAt(i) == '-')) i += 1
    if (i == start) None else Some(body.substring(start, i).toLong)
  }
}
