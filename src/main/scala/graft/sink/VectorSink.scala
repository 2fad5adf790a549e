package graft.sink

import org.apache.spark.sql.{DataFrame, Row}

/** Pluggable O5 vector sink — the seam where the reference hard-wires
  * OpenSearch (`…/DataStreamJob.java:172-193` builds an OpenSearch bulk
  * sink inline). Any store that can upsert `(passage_embedding, date,
  * text, _id)` documents drops in behind this trait; the pipeline code
  * ([[graft.pipeline.RunPipeline]], [[graft.pipeline.RagPipeline.streaming]])
  * depends only on the two write contracts:
  *
  *  - [[append]] — at-least-once append (replays may duplicate; pair with
  *    [[VectorTable.dedupeById]]-style compaction, or an upserting store);
  *  - [[appendIdempotent]] — exactly-once EFFECT per micro-batch: replaying
  *    batch N must replace batch N's documents, not duplicate them.
  */
trait VectorSink extends Serializable {
  def append(docs: DataFrame): Unit
  def appendIdempotent(docs: DataFrame, batchId: Long): Unit
  /** Idempotent create-if-absent, called once at job start — the seam the
    * reference fills with its index-creation lambda
    * (`index-creation-function/lambda_function.py:35-49`). Default no-op
    * for stores that need no DDL. */
  def bootstrap(): Unit = ()
}

/** The default implementation: the `date_day`-partitioned parquet table of
  * [[VectorTable]] (SURVEY §1.4's declared OpenSearch stand-in). */
final case class ParquetVectorSink(dir: String) extends VectorSink {
  override def append(docs: DataFrame): Unit =
    VectorTable.append(docs, dir)
  override def appendIdempotent(docs: DataFrame, batchId: Long): Unit =
    VectorTable.appendIdempotent(docs, dir, batchId)
  override def bootstrap(): Unit =
    VectorTable.bootstrap(dir)
}

/** Driver-memory implementation: proves the sink seam is real (a second
  * backend behind the same trait) and gives tests a collect-able target.
  * TEST-SCALE ONLY — it collects each batch to the driver; a real remote
  * connector (the OpenSearch shape) would write per partition instead.
  * Idempotence is the map semantics: batch N replaces batch N. */
final case class MemoryVectorSink(table: String) extends VectorSink {
  override def append(docs: DataFrame): Unit =
    MemoryVectorSink.appendRows(table, docs.collect().toSeq)
  override def appendIdempotent(docs: DataFrame, batchId: Long): Unit =
    MemoryVectorSink.putBatch(table, batchId, docs.collect().toSeq)
}

object MemoryVectorSink {
  private val appended =
    new java.util.concurrent.ConcurrentHashMap[String, Vector[Row]]()
  private val batches =
    new java.util.concurrent.ConcurrentHashMap[String, scala.collection.concurrent.TrieMap[Long, Seq[Row]]]()

  private[sink] def appendRows(table: String, rows: Seq[Row]): Unit =
    appended.merge(table, rows.toVector, (a, b) => a ++ b)
  private[sink] def putBatch(table: String, batchId: Long, rows: Seq[Row]): Unit =
    batches.computeIfAbsent(table,
      _ => scala.collection.concurrent.TrieMap.empty).put(batchId, rows)

  /** Everything written to `table`, across both write paths. */
  def read(table: String): Seq[Row] =
    appended.getOrDefault(table, Vector.empty) ++
      Option(batches.get(table)).toSeq.flatMap(_.toSeq.sortBy(_._1).flatMap(_._2))

  def clear(table: String): Unit = {
    appended.remove(table)
    batches.remove(table)
  }
}
