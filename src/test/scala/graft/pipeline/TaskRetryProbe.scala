package graft.pipeline

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.embed.{EmbeddingProvider, EmbeddingResult, RetryPolicy}
import graft.sink.VectorSink

/** One dead-letter embed-and-sink pass whose first task attempt fails, in
  * a session that retries a failed task once (`local[2,2]`; a `local[n]`
  * session never retries, so this runs in a JVM of its own).
  *
  * The provider fails "record X" on its first call only, and the sink
  * fails partition 0's first attempt after reading all of its rows. Prints
  * one line `sink <ids>` and one line `dead <ids>`.
  *
  * Run: `Test/runMain graft.pipeline.TaskRetryProbe <dead-letter dir>`. */
object TaskRetryProbe {

  object FirstCallFails extends EmbeddingProvider {
    override val dim: Int = 4
    private val failed = new AtomicBoolean(false)
    override def embed(text: String): EmbeddingResult = {
      if (text == "record X" && failed.compareAndSet(false, true))
        throw new RuntimeException("provider 500: first call")
      EmbeddingResult(Array.fill(dim)(0.5f), 2)
    }
  }

  /** What the sink's successful attempts wrote. */
  val stored = new ConcurrentLinkedQueue[String]()

  object FailFirstAttemptSink extends VectorSink {
    override def append(docs: DataFrame): Unit =
      docs.foreachPartition { (it: Iterator[Row]) =>
        val ids = it.map(_.getAs[String]("_id")).toList
        val ctx = TaskContext.get()
        if (ctx.partitionId() == 0 && ctx.attemptNumber() == 0)
          throw new RuntimeException("sink: partition 0 fails its first attempt")
        ids.foreach(stored.add)
      }
    override def appendIdempotent(docs: DataFrame, batchId: Long): Unit = append(docs)
  }

  def main(args: Array[String]): Unit = {
    val dl = args(0)
    val spark = SparkSession.builder().master("local[2,2]").appName("task-retry-probe")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      import spark.implicits._
      val pre = Seq(
          ("record X", "2024-01-01T00:00:00.000Z", "X"),
          ("record Y", "2024-01-01T00:00:01.000Z", "Y"))
        .toDF("text", "created_at", "_id").coalesce(1)
      RagPipeline.embedAndSink(pre, FirstCallFails, RetryPolicy(maxAttempts = 1), 4,
        Some(dl), "batch=0")(FailFirstAttemptSink.appendIdempotent(_, 0))
      val dead =
        if (!new java.io.File(dl).exists()) Seq.empty[String]
        else spark.read.parquet(dl).select("_id").as[String].collect().toSeq
      println(s"sink ${stored.asScala.toSeq.sorted.mkString(",")}")
      println(s"dead ${dead.sorted.mkString(",")}")
    } finally spark.stop()
  }
}
