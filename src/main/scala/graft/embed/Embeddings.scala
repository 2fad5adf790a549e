package graft.embed

import java.security.MessageDigest
import java.util.concurrent.{CompletableFuture, CompletionException, ConcurrentHashMap,
  ExecutionException, Executors, Semaphore, ThreadFactory, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.duration._
import scala.util.control.NonFatal

import org.apache.spark.TaskContext

/** Pluggable embedding backend — the Spark-side contract of the reference's
  * async Bedrock operator (reference
  * `operators/asyncIO/BedRockEmbeddingModelAsyncCustomMessage.java:26-118`).
  *
  * Model-id resolution and dimensions follow the reference exactly:
  * `titan-v1` → `amazon.titan-embed-text-v1` (1536 dims), `titan-v2` →
  * `amazon.titan-embed-text-v2:0` (1024 dims) (reference
  * `…BedRockEmbeddingModelAsyncCustomMessage.java:80-85`,
  * `index-creation-function/lambda_function.py:58-61`).
  */
trait EmbeddingProvider extends Serializable {
  def dim: Int
  /** Embed one text. Called from executor threads; must be thread-safe. */
  def embed(text: String): EmbeddingResult
  /** Embed one text without holding the caller's thread while it waits.
    * The default runs [[embed]] on [[EmbeddingStage.pool]], and cancelling
    * the future interrupts that call. A provider that calls a remote
    * service overrides it with a truly asynchronous call, so that a waiting
    * call holds no thread at all. */
  def embedAsync(text: String): CompletableFuture[EmbeddingResult] =
    EmbeddingStage.onPool(embed(text))
}

final case class EmbeddingResult(embedding: Array[Float], inputTextTokenCount: Int)

/** Bounded exponential-backoff retry for external providers. A remote
  * embedding API fails transiently as a matter of course; without an
  * explicit policy every failure becomes either a whole-task retry (re-runs
  * the partition's successful calls too) or, as in the reference, a null
  * poison pill crashing the sink. */
final case class RetryPolicy(
    maxAttempts: Int = 3,
    initialBackoffMs: Long = 100,
    backoffMultiplier: Double = 2.0) {
  require(maxAttempts >= 1, "maxAttempts must be >= 1")
}

object EmbeddingModels {
  /** Reference model alias → (full model id, dimension). */
  val registry: Map[String, (String, Int)] = Map(
    "titan-v1" -> ("amazon.titan-embed-text-v1", 1536),
    "titan-v2" -> ("amazon.titan-embed-text-v2:0", 1024))

  def dimOf(alias: String): Int =
    registry.getOrElse(alias,
      throw new IllegalArgumentException(s"unknown embedding model: $alias"))._2
}

/** Deterministic stand-in for the Bedrock call (FIXTURES.md A3 contract):
  * `embedding[i] = f(seed=42, sha2(text), i)` as floats in [-0.25, 0.25),
  * `inputTextTokenCount = size(split(text, '\\s+'))`. Identical text →
  * identical vector on every executor/run, which is what makes the pipeline
  * testable without network egress.
  */
final case class StubEmbeddingProvider(modelAlias: String = "titan-v1", seed: Long = 42L)
    extends EmbeddingProvider {
  override val dim: Int = EmbeddingModels.dimOf(modelAlias)

  override def embed(text: String): EmbeddingResult = {
    val sha = MessageDigest.getInstance("SHA-256")
      .digest(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // Fold the digest into a 64-bit base state, then splitmix per dimension.
    var base = seed
    var i = 0
    while (i < sha.length) { base = base * 0x100000001b3L + (sha(i) & 0xffL); i += 1 }
    val out = new Array[Float](dim)
    i = 0
    while (i < dim) {
      val h = graft.functions.TextHashing.splitmix64(base + i)
      // top 24 bits → uniform [0,1) → shift to [-0.25, 0.25)
      out(i) = (((h >>> 40).toDouble / (1 << 24).toDouble) * 0.5 - 0.25).toFloat
      i += 1
    }
    val tokens = text.trim.split("\\s+").count(_.nonEmpty)
    EmbeddingResult(out, tokens)
  }
}

/** Bounded-concurrency embedding — Spark's analogue of Flink's
  * `AsyncDataStream.unorderedWait(…, capacity = 1000)` (reference
  * `DataStreamJob.java:148-154`).
  *
  * Spark has no per-record async operator, so each partition drives its
  * texts through an ordered sliding window of asynchronous calls
  * ([[EmbeddingProvider.embedAsync]]): a call starts as soon as a permit is
  * free, a waiting call holds no thread, and results leave in input order
  * as the head of the window completes. The permits come from one limiter
  * per executor JVM, provider and bound, shared by every partition the JVM
  * runs at once: the reference's capacity bounds one operator instance,
  * and an executor JVM is the closest Spark analogue of one. Partitions
  * complete unordered relative to each other — the same unorderedness the
  * reference opts into. A remote provider overlaps up to `maxInFlight`
  * calls' latency; the local stub runs on [[pool]] as a tight loop.
  */
object EmbeddingStage {
  /** Named daemon threads: an embed thread never keeps a JVM alive. */
  private[embed] def daemons(name: String): ThreadFactory = {
    val n = new AtomicInteger()
    r => { val t = new Thread(r, s"$name-${n.incrementAndGet()}"); t.setDaemon(true); t }
  }

  private val poolSize = math.min(Runtime.getRuntime.availableProcessors() * 2, 64)
  /** Runs the calls of synchronous providers (the default
    * [[EmbeddingProvider.embedAsync]]), one pool per executor JVM. */
  lazy val pool: java.util.concurrent.ExecutorService =
    Executors.newFixedThreadPool(poolSize, daemons("graft-embed"))

  /** `body` on [[pool]] as a future; cancelling the future interrupts the
    * running body, so an interrupt-honoring provider (any socket read)
    * unblocks. One that ignores the interrupt keeps its pool thread: the
    * pool never grows, and the calls queued behind it time out into Lefts. */
  private[embed] def onPool[T](body: => T): CompletableFuture[T] = {
    val result = new CompletableFuture[T]
    val task = pool.submit(new Runnable {
      override def run(): Unit =
        if (!result.isDone)
          try result.complete(body) catch { case t: Throwable => result.completeExceptionally(t) }
    })
    result.whenComplete((_: T, _: Throwable) => if (result.isCancelled) task.cancel(true))
    result
  }

  /** Worst-case wall-clock of one record: every attempt may take up to
    * `perAttempt`, plus the full backoff series. */
  private[embed] def retryBudget(perAttempt: Duration, policy: RetryPolicy): Duration = {
    var backoffTotal = 0L
    var b = policy.initialBackoffMs
    var i = 1
    while (i < policy.maxAttempts) {
      backoffTotal += b
      b = (b * policy.backoffMultiplier).toLong
      i += 1
    }
    perAttempt * policy.maxAttempts.toLong + backoffTotal.millis
  }

  /** The in-flight bound of one (provider, maxInFlight) pair in this JVM.
    * Held while a window uses it and dropped when the last one closes, so
    * a provider without value equality (a fresh copy per task) leaks no
    * limiter. A window closes only once each of its calls has released its
    * permit, so a limiter made afresh starts with the true count. */
  private final class Limiter(bound: Int) {
    val permits = new Semaphore(bound)
    var windows = 0 // only read and written inside the map's compute
  }
  private val limiters = new ConcurrentHashMap[(EmbeddingProvider, Int), Limiter]()

  private def lease(key: (EmbeddingProvider, Int)): Limiter =
    limiters.compute(key, (_: (EmbeddingProvider, Int), l: Limiter) => {
      val cur = if (l == null) new Limiter(key._2) else l
      cur.windows += 1
      cur
    })

  private def unlease(key: (EmbeddingProvider, Int)): Unit =
    limiters.computeIfPresent(key, (_: (EmbeddingProvider, Int), l: Limiter) => {
      l.windows -= 1
      if (l.windows == 0) null else l
    })

  /** Free permits of this JVM's limiter for `provider` under `maxInFlight`. */
  private[graft] def availablePermits(provider: EmbeddingProvider, maxInFlight: Int): Int =
    Option(limiters.get((provider, maxInFlight))).fold(maxInFlight)(_.permits.availablePermits)

  private def cause(t: Throwable): Throwable = t match {
    case _: CompletionException | _: ExecutionException if t.getCause != null => cause(t.getCause)
    case _ => t
  }

  private val direct: java.util.concurrent.Executor = (r: Runnable) => r.run()

  /** One record's call chain, holding one permit of `permits`. The attempts
    * follow `policy`, and the backoff between them waits on the JDK's delay
    * timer, not on a thread. The result is the record's outcome: `Right`; a
    * `Left` once the attempts are spent on `NonFatal` errors, or once
    * `budget` has passed; or a fatal error or interrupt, which completes it
    * exceptionally. The permit is released exactly once, when the result
    * completes or is cancelled, and an attempt still running then is
    * cancelled with it. */
  private def call(text: String, provider: EmbeddingProvider, policy: RetryPolicy,
                   budget: Duration, permits: Semaphore)
      : CompletableFuture[Either[String, EmbeddingResult]] = {
    val result = new CompletableFuture[Either[String, EmbeddingResult]]()
    val running = new java.util.concurrent.atomic.AtomicReference[CompletableFuture[EmbeddingResult]]()
    result.whenComplete { (_: Either[String, EmbeddingResult], _: Throwable) =>
      permits.release()
      Option(running.get).foreach(_.cancel(true))
    }
    result.completeOnTimeout(
      Left(s"embed timed out after $budget (incl. ${policy.maxAttempts} attempts)"),
      budget.toMillis, TimeUnit.MILLISECONDS)

    def attempt(n: Int, backoffMs: Long): Unit = if (!result.isDone) {
      val f = try provider.embedAsync(text)
        catch { case t: Throwable => CompletableFuture.failedFuture[EmbeddingResult](t) }
      running.set(f)
      if (result.isDone) f.cancel(true) // the record ended while this attempt started
      f.whenComplete { (r: EmbeddingResult, err: Throwable) =>
        if (err == null) result.complete(Right(r))
        else if (!result.isDone) cause(err) match {
          case NonFatal(_) if n < policy.maxAttempts =>
            CompletableFuture.delayedExecutor(backoffMs, TimeUnit.MILLISECONDS, direct).execute(
              () => attempt(n + 1, (backoffMs * policy.backoffMultiplier).toLong))
          case NonFatal(e) =>
            result.complete(Left(
              s"${e.getClass.getName}: ${String.valueOf(e.getMessage)} (after $n attempts)"))
          case fatal =>
            // a VM error or an interrupt is not a data error: it kills the
            // task so Spark retries it, never dead-letters a good record
            result.completeExceptionally(fatal)
        }
      }
    }
    attempt(1, policy.initialBackoffMs)
    result
  }

  /** The embed loop: per-record retry and error capture under bounded
    * concurrency; the output is an Either per input, in input order.
    * Callers choose the failure policy on top of it — dead-letter the
    * Lefts, or fail the task on the first one. Each record's budget is
    * [[retryBudget]] of `timeout` (attempts × per-attempt timeout +
    * backoff); a blown budget becomes a Left and cancels the record's call,
    * so a stuck provider call costs one dead-letter row, not the task.
    *
    * At most `maxInFlight` calls run at once in this JVM for this provider
    * and bound, across every window; a window also buffers at most
    * `maxInFlight` records. When other windows hold every permit for a
    * whole budget, the record fails into a Left instead of stalling the
    * task, and the records after it fail fast until a permit comes back.
    *
    * An interrupt or a fatal error propagates to the consumer. Then, or when
    * the task ends with the iterator abandoned (a `TaskContext` completion
    * listener), every call still in the window is cancelled and its permit
    * returned. */
  def embedIteratorSafe(
      texts: Iterator[String],
      provider: EmbeddingProvider,
      policy: RetryPolicy = RetryPolicy(),
      maxInFlight: Int = 1000,
      timeout: Duration = 15000.millis): Iterator[Either[String, EmbeddingResult]] =
    new Window(texts, provider, policy, maxInFlight, retryBudget(timeout, policy))

  private final class Window(texts: Iterator[String], provider: EmbeddingProvider,
                             policy: RetryPolicy, maxInFlight: Int, budget: Duration)
      extends Iterator[Either[String, EmbeddingResult]] {
    private val key = (provider, maxInFlight)
    private var limiter: Limiter = _ // leased on the first record
    private val window = new java.util.ArrayDeque[CompletableFuture[Either[String, EmbeddingResult]]]()
    // after one exhaustion, later records probe with zero wait (fail FAST,
    // not one full budget each); a permit coming back clears the flag
    private var exhausted = false
    private var closed = false
    Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => close()))

    override def hasNext: Boolean = {
      if (!closed && window.isEmpty && !texts.hasNext) close()
      !closed
    }

    override def next(): Either[String, EmbeddingResult] = {
      if (!hasNext) throw new NoSuchElementException("embed window drained")
      try {
        fill()
        // the head leaves the window only once it is done: an interrupt
        // while it waits must find it there to cancel it
        val head = try window.peek().get() catch { case e: ExecutionException => throw e.getCause }
        window.poll()
        head
      } catch { case t: Throwable => close(); throw t }
    }

    private def fill(): Unit = {
      if (limiter == null) limiter = lease(key)
      val permits = limiter.permits
      while (window.size < maxInFlight && texts.hasNext && permits.tryAcquire()) start(texts.next())
      if (window.isEmpty) {
        if (!exhausted && permits.tryAcquire(budget.toMillis, TimeUnit.MILLISECONDS))
          start(texts.next())
        else {
          exhausted = true
          texts.next()
          window.add(CompletableFuture.completedFuture(Left(
            s"embedding limiter exhausted: no permit of $maxInFlight came free within $budget")))
        }
      }
    }

    private def start(text: String): Unit = {
      exhausted = false
      window.add(call(text, provider, policy, budget, limiter.permits))
    }

    private def close(): Unit = if (!closed) {
      closed = true
      window.forEach(r => r.cancel(false))
      window.clear()
      if (limiter != null) unlease(key)
    }
  }
}
