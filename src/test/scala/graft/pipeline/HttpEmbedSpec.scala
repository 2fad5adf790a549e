package graft.pipeline

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.{ConcurrentHashMap, Executors, ScheduledThreadPoolExecutor, TimeUnit}

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.scalatest.funsuite.AnyFunSuite

import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import graft.embed.{EmbeddingStage, HttpEmbeddingProvider, RetryPolicy, StubEmbeddingProvider}

object HttpEmbedSpec {

  /** Serves the Titan wire shape. Behavior keyed on the input text:
    * "flaky…" → 500 on the first two attempts, then 200;
    * "dead…"  → always 500;
    * "hang…"  → sleeps far beyond any client timeout;
    * "after<ms> …" → 200 after <ms> milliseconds;
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
          val wait =
            if (text.startsWith("after")) text.drop(5).takeWhile(_.isDigit).toLong else latencyMs
          if (wait > 0) Thread.sleep(wait)
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

  // first in the suite, so that it also counts the threads the HTTP
  // client and the embed core start when they are first used
  test("a thousand calls in flight start a bounded number of daemon threads") {
    val stub = StubEmbeddingProvider("titan-v2")
    val inFlight = new AtomicInteger(0)
    val peak = new AtomicInteger(0)
    // replies are scheduled on one timer thread: the server holds no thread
    // per request, so every thread that appears below is the client's
    val timer = new ScheduledThreadPoolExecutor(1)
    timer.prestartAllCoreThreads()
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 4096)
    server.createContext("/embed", (ex: HttpExchange) => {
      val req = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      val text = req.split("\"inputText\"\\s*:\\s*\"")(1).takeWhile(_ != '"')
      val cur = inFlight.incrementAndGet()
      peak.updateAndGet(m => math.max(m, cur))
      timer.schedule((() => {
        inFlight.decrementAndGet()
        val r = stub.embed(text)
        val bytes = s"""{"embedding": [${r.embedding.mkString(", ")}], "inputTextTokenCount": ${r.inputTextTokenCount}}"""
          .getBytes(StandardCharsets.UTF_8)
        ex.sendResponseHeaders(200, bytes.length)
        ex.getResponseBody.write(bytes)
        ex.close()
      }): Runnable, 200, TimeUnit.MILLISECONDS)
    })
    server.setExecutor(null)
    server.start()
    try {
      // let Spark's context cleaner finish what earlier suites left, so the
      // threads it starts for that are counted before, not during, the run
      System.gc()
      Thread.sleep(500)
      val before = Thread.getAllStackTraces.keySet.asScala.toSet
      val p = HttpEmbeddingProvider(s"http://127.0.0.1:${server.getAddress.getPort}/embed")
      val out = EmbeddingStage.embedIteratorSafe((1 to 1000).iterator.map(i => s"doc $i"), p,
        RetryPolicy(maxAttempts = 1), maxInFlight = 1000, timeout = 30.seconds).toVector
      val grown = Thread.getAllStackTraces.keySet.asScala.toSet -- before
      assert(out.size == 1000 && out.forall(_.isRight))
      assert(peak.get > 500, s"server high-water in-flight ${peak.get}")
      val cores = Runtime.getRuntime.availableProcessors()
      assert(grown.size <= 2 * cores + 4, grown.map(_.getName))
      assert(grown.forall(_.isDaemon), grown.filterNot(_.isDaemon).map(_.getName))
    } finally { server.stop(0); timer.shutdownNow() }
  }

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
        maxInFlight = 32, timeout = 5.seconds).toVector
      val wallMs = (System.nanoTime() - t0) / 1e6
      assert(out.forall(_.isRight))
      // serial floor is 64 × 100 ms = 6.4 s; 32-way overlap needs ~2 × 100 ms.
      // 3 s keeps the assertion an order-of-magnitude, not a race.
      assert(wallMs < 3000, s"expected overlapped wall clock, got $wallMs ms")
      assert(maxSeen.get() == 32,
        s"server high-water in-flight ${maxSeen.get()} — calls did not overlap")
    }
  }

  test("5xx faults: transient retries recover, permanent dead-letters, stream survives") {
    withServer() { (url, _, _) =>
      val p = HttpEmbeddingProvider(url)
      val texts = Seq("good one", "flaky then fine", "dead forever", "good two")
      val out = EmbeddingStage.embedIteratorSafe(
        texts.iterator, p, RetryPolicy(maxAttempts = 3, initialBackoffMs = 10),
        maxInFlight = 4, timeout = 5.seconds).toVector
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
        maxInFlight = 2, timeout = 1.second).toVector
      assert(out(0).isLeft && out(1).isLeft)
      assert(out(2).isRight && out(3).isRight)
    }
  }

  test("the in-flight bound is per JVM and provider: 4 concurrent windows share it") {
    withServer(latencyMs = 100) { (url, _, maxSeen) =>
      val p = HttpEmbeddingProvider(url)
      val consumers = Executors.newFixedThreadPool(4)
      try {
        val windows = (1 to 4).map { w =>
          consumers.submit(() => EmbeddingStage.embedIteratorSafe(
            (1 to 32).iterator.map(i => s"window $w doc $i"), p, RetryPolicy(maxAttempts = 1),
            maxInFlight = 16, timeout = 5.seconds).toVector)
        }
        val outs = windows.map(_.get(30, TimeUnit.SECONDS))
        assert(outs.forall(o => o.size == 32 && o.forall(_.isRight)))
      } finally consumers.shutdownNow()
      // 16 for the JVM, not 4 × 16 for the four windows
      assert(maxSeen.get() == 16, s"server high-water in-flight ${maxSeen.get()}")
    }
  }

  test("output keeps input order when later inputs finish first") {
    withServer() { (url, _, _) =>
      val p = HttpEmbeddingProvider(url)
      // the first text waits longest, the last one shortest
      val texts = (0 until 16).map(i => s"after${(16 - i) * 20} doc $i")
      val out = EmbeddingStage.embedIteratorSafe(texts.iterator, p, RetryPolicy(maxAttempts = 1),
        maxInFlight = 16, timeout = 5.seconds).toVector
      val stub = StubEmbeddingProvider("titan-v2")
      assert(out.map(_.map(_.embedding.toSeq)) == texts.map(t => Right(stub.embed(t).embedding.toSeq)))
    }
  }

  test("retry backoff holds no thread: 32 records backing off at once overlap") {
    withServer() { (url, _, _) =>
      val p = HttpEmbeddingProvider(url)
      // each "flaky" text fails twice, so it waits 200 + 400 ms of backoff;
      // a thread per waiting record on an 8-thread pool would need 4 rounds
      // of 600 ms, about 2.4 s
      val texts = (1 to 32).map(i => s"flaky doc $i")
      val t0 = System.nanoTime()
      val out = EmbeddingStage.embedIteratorSafe(texts.iterator, p,
        RetryPolicy(maxAttempts = 3, initialBackoffMs = 200, backoffMultiplier = 2.0),
        maxInFlight = 32, timeout = 5.seconds).toVector
      val wallMs = (System.nanoTime() - t0) / 1e6
      assert(out.forall(_.isRight))
      assert(wallMs < 1500, s"expected overlapped backoff, got $wallMs ms")
    }
  }

  /** A drained-but-open window that keeps the JVM limiter of `(p, bound)`
    * leased, so `availablePermits` reads its semaphore rather than the
    * bound it reports for a limiter that no window holds. */
  private def holdLimiter(p: HttpEmbeddingProvider, bound: Int): Iterator[_] = {
    val holder = EmbeddingStage.embedIteratorSafe(Iterator("good hold"), p,
      RetryPolicy(maxAttempts = 1), maxInFlight = bound, timeout = 5.seconds)
    assert(holder.next().isRight)
    assert(settledPermits(p, bound, bound) == bound)
    holder
  }

  /** Free permits once they reach `want` or 2 s pass: a permit comes back
    * just after its record's result, so the consumer may see the result
    * first. A hung call holds its permit for its 10 s request timeout. */
  private def settledPermits(p: HttpEmbeddingProvider, bound: Int, want: Int): Int = {
    val deadline = System.nanoTime() + 2000L * 1000 * 1000
    while (EmbeddingStage.availablePermits(p, bound) != want && System.nanoTime() < deadline)
      Thread.sleep(5)
    EmbeddingStage.availablePermits(p, bound)
  }

  test("an interrupted consumer cancels its window and returns every permit") {
    withServer() { (url, _, _) =>
      val p = HttpEmbeddingProvider(url)
      val bound = 8
      val holder = holdLimiter(p, bound)
      val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val consumer = new Thread(() =>
        try EmbeddingStage.embedIteratorSafe((1 to 64).iterator.map(i => s"hang doc $i"), p,
            RetryPolicy(maxAttempts = 1), maxInFlight = bound, timeout = 30.seconds).foreach(_ => ())
        catch { case t: Throwable => failure.set(t) })
      consumer.start()
      assert(settledPermits(p, bound, 0) == 0, "the window never filled")
      consumer.interrupt()
      consumer.join(10000)
      assert(failure.get.isInstanceOf[InterruptedException], failure.get)
      assert(settledPermits(p, bound, bound) == bound)
      assert(!holder.hasNext)
    }
  }

  test("a task that abandons its window cancels it and returns every permit") {
    withServer() { (url, _, _) =>
      val p = HttpEmbeddingProvider(url)
      val bound = 8
      val holder = holdLimiter(p, bound)
      val texts = Seq("good doc 1", "good doc 2") ++ (1 to 30).map(i => s"hang doc $i")
      // the task stops after two records (a LIMIT does the same): the hung
      // calls behind them are left to the task's completion listener
      val firstTwo = graft.TestSpark.spark.sparkContext.parallelize(texts, 1).mapPartitions { it =>
        EmbeddingStage.embedIteratorSafe(it, p, RetryPolicy(maxAttempts = 1),
          maxInFlight = bound, timeout = 30.seconds).take(2).map(_.isRight)
      }.collect()
      assert(firstTwo.toSeq == Seq(true, true))
      assert(settledPermits(p, bound, bound) == bound)
      assert(!holder.hasNext)
    }
  }
}
