package ragbench

import java.net.{InetAddress, InetSocketAddress}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, ScheduledExecutorService, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.embed.StubEmbeddingProvider
import graft.functions.TextHashing

/** Concurrency gauge: the current level and its peak. */
final class Gauge {
  private var level = 0
  private var peakLevel = 0
  def enter(): Unit = synchronized { level += 1; if (level > peakLevel) peakLevel = level }
  def leave(): Unit = synchronized { level -= 1 }
  def peak: Int = synchronized(peakLevel)
  def resetPeak(): Unit = synchronized { peakLevel = level }
}

object Mocks {
  def bind(): HttpServer =
    HttpServer.create(new InetSocketAddress(InetAddress.getLoopbackAddress, 0), 4096)

  /** Deterministic unit-interval draw for (seed, text, salt). */
  def unit(seed: Long, text: String, salt: Long): Double =
    (TextHashing.splitmix64(seed ^ TextHashing.fnv64(text) ^ (salt * 0x9E3779B97F4A7C15L)) >>> 11)
      .toDouble / (1L << 53).toDouble

  /** First whitespace-delimited token: the record tag `r<seq>c<passage>`. */
  def tagOf(text: String): String = {
    val sp = text.indexOf(' ')
    if (sp < 0) text else text.substring(0, sp)
  }

  /** Value of a flat JSON string field (the texts here carry no escapes
    * beyond the ones handled). */
  def stringField(json: String, key: String): String = {
    val k = "\"" + key + "\":"
    val ki = json.indexOf(k)
    if (ki < 0) return null
    var i = json.indexOf('"', ki + k.length)
    if (i < 0) return null
    val b = new StringBuilder
    i += 1
    while (i < json.length && json.charAt(i) != '"') {
      val c = json.charAt(i)
      if (c == '\\' && i + 1 < json.length) {
        json.charAt(i + 1) match {
          case 'n' => b.append('\n')
          case 't' => b.append('\t')
          case 'r' => b.append('\r')
          case 'u' => b.append(Integer.parseInt(json.substring(i + 2, i + 6), 16).toChar); i += 4
          case o => b.append(o)
        }
        i += 2
      } else { b.append(c); i += 1 }
    }
    b.toString
  }

  def reply(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.add("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes) finally ex.close()
  }
}

/** Mock Titan-v2 embedding service speaking [[graft.embed.HttpEmbeddingProvider]]'s
  * wire shape. Vectors come from [[StubEmbeddingProvider]], so the store can
  * check every acked vector. Replies are scheduled on `timer` after
  * `delayMs` × U(0.8, 1.2) (seeded per text and attempt) instead of holding a
  * thread per request, so any number of calls can be in flight. The first
  * call for a seeded `failRate` share of texts gets a transient 503. */
final class EmbedMock(seed: Long, delayMs: Double, failRate: Double,
                      timer: ScheduledExecutorService, spans: () => Spans) {
  private val stub = StubEmbeddingProvider("titan-v2")
  private val server = Mocks.bind()
  private val attempts = new ConcurrentHashMap[String, Integer]()
  val firstArrival = new ConcurrentHashMap[String, java.lang.Double]()
  val calls = new AtomicLong()
  val retriesServed = new AtomicLong()
  val gauge = new Gauge
  private val callMs = new ConcurrentLinkedQueue[java.lang.Double]()

  server.createContext("/model/invoke", (ex: HttpExchange) => handle(ex))
  server.setExecutor(null)
  server.start()

  def url: String = s"http://127.0.0.1:${server.getAddress.getPort}/model/invoke"

  private def handle(ex: HttpExchange): Unit = {
    val t0 = Clock.nowMs
    val text = Mocks.stringField(new String(ex.getRequestBody.readAllBytes(), UTF_8), "inputText")
    val n: Int = attempts.merge(text, 1, (a: Integer, b: Integer) => a + b)
    calls.incrementAndGet()
    firstArrival.putIfAbsent(Mocks.tagOf(text), t0)
    val fail = n == 1 && Mocks.unit(seed, text, 0) < failRate
    gauge.enter()
    val wait = delayMs * (0.8 + 0.4 * Mocks.unit(seed, text, n.toLong))
    timer.schedule((() => finish(ex, text, fail, t0)): Runnable,
      math.round(wait * 1000), TimeUnit.MICROSECONDS)
  }

  private def finish(ex: HttpExchange, text: String, fail: Boolean, t0: Double): Unit = {
    // out of flight once the reply starts: the client may send its next
    // call before this thread gets back from writing the reply
    gauge.leave()
    try {
      if (fail) {
        retriesServed.incrementAndGet()
        Mocks.reply(ex, 503, """{"message":"ThrottlingException"}""")
      } else {
        val r = stub.embed(text)
        val b = new StringBuilder(r.embedding.length * 12 + 64).append("{\"embedding\":[")
        var i = 0
        while (i < r.embedding.length) {
          if (i > 0) b.append(',')
          b.append(java.lang.Float.toString(r.embedding(i)))
          i += 1
        }
        b.append("],\"inputTextTokenCount\":").append(r.inputTextTokenCount).append('}')
        Mocks.reply(ex, 200, b.toString)
      }
    } catch { case _: java.io.IOException => () } // client gave up (task killed)
    finally {
      val t1 = Clock.nowMs
      callMs.add(t1 - t0)
      spans().add(Span("embed.call", "embed", Depth.Embed, t0, t1, Gen.seqOf(text)))
    }
  }

  def distinctTexts: Int = attempts.size
  def callLatencies: Seq[Double] = callMs.asScala.toSeq.map(_.doubleValue)

  /** Forget per-run counts (the isolated embed timing reuses the service). */
  def reset(): Unit = {
    attempts.clear(); firstArrival.clear(); callMs.clear()
    calls.set(0); retriesServed.set(0); gauge.resetPeak()
  }

  def stop(): Unit = server.stop(0)
}

/** One document as the store acknowledged it. */
final case class StoredDoc(tag: String, ackMs: Double, doc: String)

/** Mock `_bulk` store speaking [[graft.sink.HttpVectorSink]]'s NDJSON wire
  * shape. Every document of `index` is kept with its ack time for the
  * post-run checks; other indexes (the isolated sink timing) are only
  * counted. `inject` simulates a faulty program for the checks' own tests:
  * `drop` loses, `dup` repeats and `vector` corrupts the fifth document. */
final class StoreMock(index: String, inject: String, spans: () => Spans) {
  private val server = Mocks.bind()
  val docs = new ConcurrentLinkedQueue[StoredDoc]()
  val bulks = new AtomicLong()
  val bodyBytes = new AtomicLong()
  val docCount = new AtomicLong()
  val resentBulks = new AtomicLong()
  private val seenIds = ConcurrentHashMap.newKeySet[String]()
  private val bulkMs = new ConcurrentLinkedQueue[java.lang.Double]()
  private val senders = new ConcurrentLinkedQueue[(Double, Int)]()
  private val kept = new AtomicLong()

  server.createContext("/_bulk", (ex: HttpExchange) => handle(ex))
  server.setExecutor(null)
  server.start()

  def url: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  private def handle(ex: HttpExchange): Unit = {
    val t0 = Clock.nowMs
    val bytes = ex.getRequestBody.readAllBytes()
    val lines = new String(bytes, UTF_8).split('\n')
    var i = 0
    var resent = false
    val mine = scala.collection.mutable.ArrayBuffer.empty[String]
    while (i + 1 < lines.length) {
      val action = lines(i); val doc = lines(i + 1)
      if (Mocks.stringField(action, "_index") == index) {
        if (!seenIds.add(Mocks.stringField(action, "_id"))) resent = true
        mine += doc
      }
      i += 2
    }
    val t1 = Clock.nowMs
    Mocks.reply(ex, 200, """{"took":1,"errors":false,"items":[]}""")
    for (doc <- mine) keep(StoredDoc(Mocks.tagOf(Mocks.stringField(doc, "text")), t1, doc))
    bulks.incrementAndGet()
    bodyBytes.addAndGet(bytes.length.toLong)
    docCount.addAndGet((lines.length / 2).toLong)
    if (resent) resentBulks.incrementAndGet()
    bulkMs.add(t1 - t0)
    senders.add((t0, ex.getRemoteAddress.getPort))
    spans().add(Span("sink.bulk", "sink", Depth.Bulk, t0, t1))
  }

  private def keep(d: StoredDoc): Unit = {
    val n = kept.incrementAndGet()
    inject match {
      case "drop" if n == 5 => ()
      case "dup" if n == 5 => docs.add(d); docs.add(d)
      case "vector" if n == 5 => docs.add(d.copy(doc = d.doc.replaceFirst(
        "\"passage_embedding\":\\[[^,]*,", "\"passage_embedding\":[0.75,")))
      case _ => docs.add(d)
    }
  }

  def bulkLatencies: Seq[Double] = bulkMs.asScala.toSeq.map(_.doubleValue)

  /** Most distinct connections that sent a bulk within one `windowMs`: the
    * store handles bulks one at a time, so this stands in for the sink's
    * concurrency. */
  def concurrentSenders(windowMs: Double): Int = {
    val s = senders.asScala.toArray.sortBy(_._1)
    var best = 0; var lo = 0
    for (hi <- s.indices) {
      while (s(hi)._1 - s(lo)._1 > windowMs) lo += 1
      best = math.max(best, s.slice(lo, hi + 1).map(_._2).distinct.length)
    }
    best
  }

  def stop(): Unit = server.stop(0)
}
