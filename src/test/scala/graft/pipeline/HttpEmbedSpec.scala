package graft.pipeline

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.{ConcurrentHashMap, Executors}

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.scalatest.funsuite.AnyFunSuite

import scala.concurrent.duration._

import graft.embed.{EmbeddingStage, HttpEmbeddingProvider, RetryPolicy, StubEmbeddingProvider}

object HttpEmbedSpec {

  /** Serves the Titan wire shape. Behavior keyed on the input text:
    * "flaky…" → 500 on the first two attempts, then 200;
    * "dead…"  → always 500;
    * "hang…"  → sleeps far beyond any client timeout;
    * otherwise → 200 after `latencyMs`, embedding from the deterministic
    * stub so expected vectors are computable client-side. `body` gets the
    * url, the requests in flight and their high-water mark. */
  def withServer(latencyMs: Long = 0)(
      body: (String, AtomicInteger, AtomicInteger) => Unit): Unit = {
    val stub = StubEmbeddingProvider("titan-v2")
    val inFlight = new AtomicInteger(0)
    val maxInFlight = new AtomicInteger(0)
    val attempts = new ConcurrentHashMap[String, Integer]()
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.setExecutor(Executors.newCachedThreadPool())
    server.createContext("/embed", (ex: HttpExchange) => {
      val cur = inFlight.incrementAndGet()
      maxInFlight.updateAndGet(m => math.max(m, cur))
      try {
        val req = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        // crude but sufficient: the test texts contain no escapes
        val text = req.split("\"inputText\"\\s*:\\s*\"")(1).takeWhile(_ != '"')
        def respond(code: Int, payload: String): Unit = {
          // before the reply: the client may send its next call on receipt
          inFlight.decrementAndGet()
          val bytes = payload.getBytes(StandardCharsets.UTF_8)
          ex.sendResponseHeaders(code, bytes.length)
          ex.getResponseBody.write(bytes)
          ex.close()
        }
        if (text.startsWith("hang")) {
          Thread.sleep(60000)
          respond(500, """{"message": "too late"}""")
        } else if (text.startsWith("dead")) {
          respond(500, """{"message": "permanent failure"}""")
        } else if (text.startsWith("flaky") &&
            attempts.merge(text, 1, (a, b) => a + b) <= 2) {
          respond(503, """{"message": "transient"}""")
        } else {
          if (latencyMs > 0) Thread.sleep(latencyMs)
          val r = stub.embed(text)
          respond(200,
            s"""{"embedding": [${r.embedding.mkString(", ")}], "inputTextTokenCount": ${r.inputTextTokenCount}}""")
        }
      } catch { case _: InterruptedException => inFlight.decrementAndGet(); ex.close() }
    })
    server.start()
    try body(s"http://127.0.0.1:${server.getAddress.getPort}/embed", inFlight, maxInFlight)
    finally server.stop(0)
  }
}

/** The external-provider contract, against a REAL process boundary: a local
  * JDK HttpServer with injected latency, 5xx faults, and hangs. This is what
  * the reference's async operator exists for (reference
  * `operators/asyncIO/BedRockEmbeddingModelAsyncCustomMessage.java:47-117`):
  * overlapping many in-flight remote calls, surviving transient faults, and
  * never letting one stuck call poison the stream. */
class HttpEmbedSpec extends AnyFunSuite {
  import HttpEmbedSpec.withServer

  test("http provider round-trips the wire shape (vector + token count)") {
    withServer() { (url, _, _) =>
      val p = HttpEmbeddingProvider(url)
      val expected = StubEmbeddingProvider("titan-v2").embed("hello wire world")
      val got = p.embed("hello wire world")
      assert(got.embedding.toSeq == expected.embedding.toSeq)
      assert(got.inputTextTokenCount == 3)
      assert(got.embedding.length == 1024)
    }
  }

  test("JsonCodec.quote escapes quote, backslash and control chars, passes non-ASCII through") {
    import graft.embed.JsonCodec.quote
    assert(quote("a\"b\\c") === "\"a\\\"b\\\\c\"")
    assert(quote("1\n2\r3\t4\u0001") === "\"1\\n2\\r3\\t4\\u0001\"")
    assert(quote("naïve 東京 €") === "\"naïve 東京 €\"")
  }

  test("bounded concurrency genuinely overlaps remote latency") {
    withServer(latencyMs = 100) { (url, _, maxSeen) =>
      val p = HttpEmbeddingProvider(url)
      val texts = (1 to 64).map(i => s"doc number $i")
      val t0 = System.nanoTime()
      val out = EmbeddingStage.embedIteratorSafe(
        texts.iterator, p, RetryPolicy(maxAttempts = 1),
        maxInFlight = 32, batchSize = 64, timeout = 5.seconds).toVector
      val wallMs = (System.nanoTime() - t0) / 1e6
      assert(out.forall(_.isRight))
      // serial floor is 64 × 100 ms = 6.4 s; 32-way overlap needs ~2 × 100 ms.
      // 3 s keeps the assertion an order-of-magnitude, not a race.
      assert(wallMs < 3000, s"expected overlapped wall clock, got $wallMs ms")
      assert(maxSeen.get() >= 8,
        s"server high-water in-flight ${maxSeen.get()} — calls did not overlap")
    }
  }

  test("5xx faults: transient retries recover, permanent dead-letters, stream survives") {
    withServer() { (url, _, _) =>
      val p = HttpEmbeddingProvider(url)
      val texts = Seq("good one", "flaky then fine", "dead forever", "good two")
      val out = EmbeddingStage.embedIteratorSafe(
        texts.iterator, p, RetryPolicy(maxAttempts = 3, initialBackoffMs = 10),
        maxInFlight = 4, batchSize = 8, timeout = 5.seconds).toVector
      assert(out(0).isRight && out(1).isRight && out(3).isRight)
      assert(out(2).isLeft)
      assert(out(2).left.exists(_.contains("HTTP 500")))
      assert(out(2).left.exists(_.contains("3 attempts")))
    }
  }

  test("a hung endpoint costs one dead-letter, not the task (permit released)") {
    withServer() { (url, _, _) =>
      // per-request timeout 300 ms bounds the provider call itself: the
      // permit can't be held past it even though the server never answers
      val p = HttpEmbeddingProvider(url, requestTimeoutMs = 300)
      val texts = Seq("hang a", "hang b", "good after hang 1", "good after hang 2")
      val out = EmbeddingStage.embedIteratorSafe(
        texts.iterator, p, RetryPolicy(maxAttempts = 1),
        // maxInFlight = 2: both permits go to the hung calls first — the
        // good records only complete if those permits come back
        maxInFlight = 2, batchSize = 4, timeout = 1.second).toVector
      assert(out(0).isLeft && out(1).isLeft)
      assert(out(2).isRight && out(3).isRight)
    }
  }
}
