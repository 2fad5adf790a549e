package graft.embed

import java.security.MessageDigest
import java.util.concurrent.{Executors, Semaphore, TimeUnit}
import scala.concurrent.duration._

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

/** Bounded-concurrency batch embedding — Spark's analogue of Flink's
  * `AsyncDataStream.unorderedWait(…, capacity = 1000)` (reference
  * `DataStreamJob.java:148-154`).
  *
  * Spark has no per-record async operator; within each partition we submit
  * texts to a shared per-JVM pool, capped by a semaphore of `maxInFlight`
  * permits (the reference's capacity 1000). Partitions complete unordered
  * relative to each other — the same unorderedness the reference opts into.
  * For remote providers this overlaps network latency across the partition;
  * for the local stub it degrades gracefully to a tight loop.
  */
object EmbeddingStage {
  private val poolSize = math.min(Runtime.getRuntime.availableProcessors() * 2, 64)
  // One pool per executor JVM, shared across partitions/tasks (the
  // `maxInFlight` semaphore is per partition). An ExecutorService so a
  // timed-out call can be cancel(true)-interrupted — see embedIteratorSafe.
  lazy val pool: java.util.concurrent.ExecutorService =
    Executors.newFixedThreadPool(poolSize, r => {
      val t = new Thread(r, "graft-embed"); t.setDaemon(true); t
    })

  /** One embed call under a [[RetryPolicy]]: retries transient failures with
    * exponential backoff, then converts a final failure into a Left(error)
    * instead of throwing — the record routes to the dead-letter channel and
    * the task (and the partition's successful calls) survives.
    *
    * Only `NonFatal` throwables are retried/dead-lettered: a VM error
    * (OutOfMemoryError etc.) is an infra failure that must kill the task so
    * Spark retries it on a healthy executor — recording it as a per-record
    * data error would permanently dead-letter a good document. An interrupt
    * during backoff (task kill) likewise propagates after restoring the
    * interrupt flag. */
  def embedWithRetry(text: String, provider: EmbeddingProvider,
                     policy: RetryPolicy): Either[String, EmbeddingResult] = {
    var attempt = 1
    var backoff = policy.initialBackoffMs
    while (true) {
      try return Right(provider.embed(text))
      catch {
        case scala.util.control.NonFatal(_) if attempt < policy.maxAttempts =>
          attempt += 1
          try Thread.sleep(backoff)
          catch {
            case ie: InterruptedException =>
              Thread.currentThread().interrupt()
              throw ie
          }
          backoff = (backoff * policy.backoffMultiplier).toLong
        case scala.util.control.NonFatal(e) =>
          return Left(
            s"${e.getClass.getName}: ${String.valueOf(e.getMessage)} (after $attempt attempts)")
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Worst-case wall-clock of one [[embedWithRetry]] call: every attempt
    * may take up to `perAttempt`, plus the full backoff series. */
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

  /** The embed loop: per-record retry + error capture under bounded
    * concurrency; the output is an Either per input in order. Callers
    * choose the failure policy on top of it — dead-letter the Lefts, or
    * fail the task on the first one. The await
    * budget scales with the retry policy (attempts × per-attempt timeout +
    * backoff), and a blown budget becomes a Left — a stuck provider call
    * costs one dead-letter row, not the task.
    *
    * A timed-out call is `cancel(true)`-interrupted so an interrupt-honoring
    * provider (any socket read, [[HttpEmbeddingProvider]]'s per-request
    * timeout) unblocks and releases its permit. For a provider that ignores
    * interrupts the permit does leak — so permit acquisition itself is
    * bounded: when every permit is held by hung calls, subsequent records
    * fail fast into the dead-letter channel instead of deadlocking the
    * task. */
  def embedIteratorSafe(
      texts: Iterator[String],
      provider: EmbeddingProvider,
      policy: RetryPolicy = RetryPolicy(),
      maxInFlight: Int = 1000,
      batchSize: Int = 256,
      timeout: Duration = 15000.millis): Iterator[Either[String, EmbeddingResult]] = {
    val permits = new Semaphore(maxInFlight)
    val budget = retryBudget(timeout, policy)
    // after one exhaustion detection, later records probe with zero wait
    // (fail FAST, not one full budget each); a permit coming back — an
    // interrupted call finally releasing — clears the flag and resumes
    var exhausted = false
    final case class Submitted(
        jf: java.util.concurrent.Future[Either[String, EmbeddingResult]],
        claimed: java.util.concurrent.atomic.AtomicBoolean)
    texts.grouped(batchSize).flatMap { batch =>
      val submitted: Seq[Either[String, Submitted]] =
        batch.map { t =>
          val got =
            if (exhausted) permits.tryAcquire()
            else permits.tryAcquire(budget.toMillis, TimeUnit.MILLISECONDS)
          if (!got) {
            exhausted = true
            Left(s"embedding pool exhausted: all $maxInFlight permits held " +
              s"beyond $budget — provider is hung and ignoring interrupts")
          } else {
            exhausted = false
            // exactly-once permit release, decided by CAS: the task runs the
            // provider only if it claims first; a canceller that claims
            // first owns the release (a task cancelled while still QUEUED
            // never executes its finally — the round-2 leak)
            val claimed = new java.util.concurrent.atomic.AtomicBoolean(false)
            val jf = pool.submit(new java.util.concurrent.Callable[Either[String, EmbeddingResult]] {
              override def call(): Either[String, EmbeddingResult] =
                if (!claimed.compareAndSet(false, true))
                  Left("cancelled before start") // canceller released the permit
                else
                  try embedWithRetry(t, provider, policy)
                  finally permits.release()
            })
            Right(Submitted(jf, claimed))
          }
        }
      submitted.map {
        case Left(err) => Left(err)
        case Right(Submitted(jf, claimed)) =>
          try jf.get(budget.toMillis, TimeUnit.MILLISECONDS)
          catch {
            case _: java.util.concurrent.TimeoutException =>
              jf.cancel(true) // interrupt so a RUNNING call unblocks + releases
              if (claimed.compareAndSet(false, true))
                permits.release() // never started: the release is ours
              Left(s"embed timed out after $budget (incl. ${policy.maxAttempts} attempts)")
            case e: java.util.concurrent.ExecutionException =>
              throw e.getCause // only fatal/interrupt escapes embedWithRetry
          }
      }
    }
  }
}
