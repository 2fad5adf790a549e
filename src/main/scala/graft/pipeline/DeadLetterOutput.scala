package graft.pipeline

import java.io.IOException
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.{MessageType, MessageTypeParser}
import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.{CollectionAccumulator, SerializableConfiguration}

import graft.model.{EmbeddedAttempt, EmbeddedRecord}

/** The embed stage's dead-letter side output for one unit of work: while
  * the successes of an embedding pass flow on to the sink, the same task
  * writes the failures as parquet `(_id, text, embed_error)` under `dir`
  * (`<deadletter.dir>/<key>`). No cache and no second Spark job.
  *
  * One output per record, also across task retries and speculation:
  *  - each task attempt writes its failures, if it has any, to its own
  *    hidden file (`_part-…`, which no reader lists) and reports the name
  *    through an accumulator. Spark merges the update of a result task
  *    only from the attempt that finishes the partition, so the reported
  *    files are exactly those whose attempts fed the sink;
  *  - after the sink's job the driver renames the reported files into
  *    place ([[commit]]) and deletes every other file under `dir`.
  * That needs `write` to read its frame in one job, the sink's own, as
  * every [[graft.sink.VectorSink]] here does.
  *
  * Replay: creating the output deletes `dir`, so a replayed key replaces
  * its stale dead letters, also with none. `dir`, and its parent once
  * emptied here, exist only while they hold a dead-letter file: a reader
  * of the parent sees either no directory or a readable parquet table. */
private[pipeline] final class DeadLetterOutput private (
    dir: String,
    hadoopConf: Broadcast[SerializableConfiguration],
    written: CollectionAccumulator[String]) extends Serializable {

  @transient private lazy val path = new Path(dir)
  @transient private lazy val fs: FileSystem = path.getFileSystem(hadoopConf.value.value)

  /** Executor side: the successes of `attempts`; its failures go to this
    * task attempt's file. */
  def divert(attempts: Iterator[EmbeddedAttempt]): Iterator[EmbeddedRecord] = {
    val file = new TaskFile(Option(TaskContext.get()))
    val records = attempts.flatMap { a =>
      if (a.embed_error == null)
        Some(EmbeddedRecord(a.text, a.created_at, a._id, a.embedding, a.inputTextTokenCount))
      else { file.write(a); None }
    }
    // the by-name tail runs once the records are drained, before the sink
    // commits its task: a dead-letter write that fails, fails the attempt
    records ++ { file.publish(); Iterator.empty }
  }

  /** Driver side, after `write` returned: publish the reported files and
    * delete everything else under `dir`; with none reported, delete `dir`. */
  def commit(): Unit = {
    val names = written.value.asScala.toSet
    if (names.isEmpty) remove()
    else {
      names.foreach { n =>
        if (!fs.rename(new Path(path, n), new Path(path, n.drop(1))))
          throw new IOException(s"could not publish dead letters $n under $dir")
      }
      val published = names.map(_.drop(1))
      fs.listStatus(path).filterNot(s => published(s.getPath.getName))
        .foreach(s => fs.delete(s.getPath, true))
    }
  }

  /** Driver side, after `write` failed: the unit of work will be redone,
    * so none of its dead letters stand. */
  def abort(): Unit = remove()

  private def remove(): Unit =
    if (fs.delete(path, true)) {
      // fails when another key's dead letters are there, which is the
      // case in which the parent stays
      try fs.delete(path.getParent, false) catch { case _: IOException => }
    }

  /** One task attempt's failures, opened at the first one. A failed
    * attempt deletes its file; the driver also deletes any file no
    * finishing attempt reported. */
  private final class TaskFile(ctx: Option[TaskContext]) {
    private var file: Path = _
    private var out: ParquetWriter[Group] = _
    private var closed = false
    ctx.foreach { c =>
      c.addTaskFailureListener((_, _) => discard())
      c.addTaskCompletionListener[Unit](_ => publish())
    }

    def write(a: EmbeddedAttempt): Unit = {
      if (out == null) {
        val pid = ctx.fold(0)(_.partitionId())
        file = new Path(path, f"_part-$pid%05d-${UUID.randomUUID()}.parquet")
        val conf = hadoopConf.value.value
        out = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(file, conf))
          .withType(DeadLetterOutput.schema)
          .withConf(conf)
          .withCompressionCodec(CompressionCodecName.SNAPPY)
          .build()
      }
      val g = DeadLetterOutput.groups.newGroup()
      Seq("_id" -> a._id, "text" -> a.text, "embed_error" -> a.embed_error)
        .foreach { case (k, v) => if (v != null) g.append(k, v) }
      out.write(g)
    }

    def publish(): Unit = if (!closed) {
      closed = true
      if (out != null) {
        out.close()
        written.add(file.getName)
      }
    }

    def discard(): Unit = if (file != null) {
      if (!closed) { closed = true; try out.close() catch { case _: Exception => } }
      file.getFileSystem(hadoopConf.value.value).delete(file, false)
    }
  }
}

private[pipeline] object DeadLetterOutput {
  private val schema: MessageType = MessageTypeParser.parseMessageType(
    """message dead_letter {
      |  optional binary _id (STRING);
      |  optional binary text (STRING);
      |  optional binary embed_error (STRING);
      |}""".stripMargin)
  private lazy val groups = new SimpleGroupFactory(schema)

  /** The output for `dir`, whose stale dead letters it deletes. */
  def apply(spark: SparkSession, dir: String): DeadLetterOutput = {
    val out = new DeadLetterOutput(dir, graft.sink.HadoopConf.of(spark),
      spark.sparkContext.collectionAccumulator[String])
    out.remove()
    out
  }
}
