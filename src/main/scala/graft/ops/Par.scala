package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.concurrent.{blocking, Future}
import scala.concurrent.ExecutionContext.Implicits.global

/** Explicit partition width for seams where AQE's bytes-based coalescing
  * is the wrong signal: skinny rows whose downstream cost is per-row CPU
  * (guide §2.5 — a few-MB shuffle folds onto a handful of tasks and
  * serializes a CPU-bound stage).
  *
  * Used where measurement said yes: [[Dedup.prefixJaccardPairs]]'s
  * candidate layout (each skinny candidate row buys an O(|doc|)
  * sorted-intersect in the verify; the cores-wide explicit repartition
  * was measured 8.6 → 3.9 s at sf0.1 in r20 and kept keyed in r21 so one
  * exchange serves both the pair-dedup clustering and the verify width).
  *
  * NEGATIVE RESULT (r21 journal): the same widening applied to the
  * pinned KN trigram-type table and the ccnet langid-tagged corpus was
  * implemented and measured WORSE at sf0.1 on 32 cores (interleaved
  * tools.Profile: q_kn_logprob 2.14 → 3.03 s, q_ccnet_buckets 4.60 → 6.19 s)
  * even though the downstream explodes then ran 32-way instead of 1–4-way
  * — allocation-heavy string work contends catastrophically at full width
  * on this box (tools.Profile stages: ccnet trigram-explode task-time sum 1.3 →
  * 21.3 s for a wall LOSS). Widening is only safe where the downstream is
  * integer/array compute, so it stays a per-seam decision, not a blanket
  * post-checkpoint policy.
  *
  * Scale stance (round rule: scale-dependent settings parameterised): the
  * local default is the session's `defaultParallelism`; a cluster
  * deployment sets `spark.graft.pin.partitions` to the intermediate's
  * natural width (bytes / 256 MB) or `0` to disable the explicit
  * repartition outright and keep the AQE-planned layout. */
object Par {

  /** Configured explicit width — a PARTITION COUNT (e.g. the
    * intermediate's bytes / 256 MB, computed by the deployer):
    * `spark.graft.pin.partitions` if set, else the session's default
    * parallelism. `0` (or negative) disables the explicit repartition at
    * the call sites. A non-integer value fails fast with the key named
    * instead of surfacing as a bare NumberFormatException mid-plan. */
  def width(df: DataFrame): Int = {
    val spark = df.sparkSession
    spark.conf.getOption("spark.graft.pin.partitions").map { v =>
      try v.trim.toInt
      catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"spark.graft.pin.partitions must be an integer partition count " +
            s"(0 disables the explicit repartition), got: '$v'")
      }
    }.getOrElse(spark.sparkContext.defaultParallelism)
  }

  /** A Future whose body BLOCKS on Spark actions (collect/count/save) —
    * the guide-§2.6 concurrent-jobs stance shared by spearman, the
    * centroid batch states and the artifact dashboard. `blocking{}` lets
    * the shared global pool spawn a replacement thread instead of
    * starving sibling futures when several concurrent-job ops run at
    * once (r20 ADVICE); one definition here so the execution-context
    * policy has a single seam.
    *
    * The body's jobs carry the CALLER's job group, description,
    * interrupt-on-cancel flag and scheduler pool, captured at submit time.
    * A pooled thread's own Spark local properties were copied from
    * whichever thread created it, so without this a later caller's jobs
    * would run under an earlier caller's group, out of reach of its
    * `cancelJobGroup`. The SQL execution id is not copied: the body's
    * actions start their own executions. */
  def blockingFuture[T](body: => T): Future[T] =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).map(_.sparkContext) match {
      case None => Future(blocking(body))
      case Some(sc) =>
        val caller = callerProperties.map(k => k -> sc.getLocalProperty(k))
        Future(blocking {
          val own = callerProperties.map(k => k -> sc.getLocalProperty(k))
          caller.foreach { case (k, v) => sc.setLocalProperty(k, v) }
          try body finally own.foreach { case (k, v) => sc.setLocalProperty(k, v) }
        })
    }

  private val callerProperties = Seq(
    "spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel",
    "spark.scheduler.pool")
}
